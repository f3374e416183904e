"""From-scratch baseline JPEG (JFIF) codec — stdlib + numpy only.

The reference's dominant real input format is JPEG: its drone imagery is
read with skimage/Pillow (``geograypher/utils/image.py:10-26``) and the
EXIF test assets are ``.JPG``. The container has no Pillow/libjpeg, so —
same codec-free discipline as ``functions/png.py``, ``sources/gtiff.py``
and ``functions/exif.py`` — baseline JFIF is implemented directly:
segment walker, canonical Huffman (16-bit window LUT, the libjpeg
fast-path shape), dequant + dezigzag, batched 8×8 IDCT (one numpy einsum
over all blocks — Python touches only the entropy stream), chroma
upsampling, YCbCr→RGB.

Supported: baseline + extended-sequential DCT (SOF0/SOF1), 8-bit,
grayscale and 3-component YCbCr, arbitrary power-ratio subsampling
(4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 / 4:1:1), restart markers, 8/16-bit
quant tables. Progressive (SOF2), arithmetic coding, 12-bit and CMYK
raise with a clear message.

An encoder (4:4:4 or 4:2:0, Annex-K standard tables, IJG quality
scaling) rides along so round-trip tests need no binary fixtures and
chip/render sinks can emit .jpg.
"""

from __future__ import annotations

import struct
from collections.abc import Sequence

import numpy as np

# zigzag index -> natural (row-major) index
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)

# orthonormal 8-point DCT-II matrix: forward X = C @ x @ C.T, inverse
# x = C.T @ X @ C
_C = np.array([[(np.sqrt(1 / 8) if k == 0 else 0.5)
                * np.cos((2 * n + 1) * k * np.pi / 16)
                for n in range(8)] for k in range(8)])

# ITU T.81 Annex K typical tables ------------------------------------------

STD_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)   # natural order

STD_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = tuple(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = tuple(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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
    0xF9, 0xFA]


def is_jpeg(payload: bytes) -> bool:
    return payload[:2] == b"\xff\xd8"


# ---------------------------------------------------------------------------
# Huffman: canonical-code 16-bit-window LUT (one array index per symbol)
# ---------------------------------------------------------------------------

class _HuffLUT:
    __slots__ = ("sym", "length")

    def __init__(self, bits: list[int], vals: list[int]):
        sym = np.zeros(1 << 16, dtype=np.int16)
        length = np.zeros(1 << 16, dtype=np.uint8)
        code, k = 0, 0
        for l in range(1, 17):
            for _ in range(bits[l - 1]):
                if code >= (1 << l):
                    raise ValueError("over-subscribed Huffman table")
                lo = code << (16 - l)
                hi = (code + 1) << (16 - l)
                sym[lo:hi] = vals[k]
                length[lo:hi] = l
                code += 1
                k += 1
            code <<= 1
        self.sym = sym
        self.length = length


class _BitReader:
    """MSB-first bit reader over DESTUFFED entropy bytes (0xFF00 already
    collapsed, restart markers already split out by the caller)."""
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        data, pos = self.data, self.pos
        while self.nbits < need:
            b = data[pos] if pos < len(data) else 0
            pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        self.pos = pos

    def peek16(self) -> int:
        if self.nbits < 16:
            self._fill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def drop(self, n: int) -> None:
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def get_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill(n)
        v = self.acc >> (self.nbits - n)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


def _decode_sym(r: _BitReader, lut: _HuffLUT) -> int:
    w = r.peek16()
    l = lut.length[w]
    if l == 0:
        raise ValueError("invalid Huffman code in entropy stream")
    r.drop(int(l))
    return int(lut.sym[w])


def _extend(v: int, s: int) -> int:
    # T.81 F.2.2.1 RECEIVE/EXTEND: s-bit magnitude v maps to the signed
    # value; top bit clear means negative
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF bytes → uint8 (h, w) grayscale or (h, w, 3) RGB."""
    if not is_jpeg(payload):
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}      # id -> natural-order int array
    hufftabs: dict[tuple[int, int], _HuffLUT] = {}   # (class, id) -> LUT
    sof = None
    restart_interval = 0
    n = len(payload)
    while pos < n:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI before SOS
            break
        (seglen,) = struct.unpack(">H", payload[pos:pos + 2])
        data = payload[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq:
                    zz = np.frombuffer(data[i:i + 128], dtype=">u2"
                                       ).astype(np.int64)
                    i += 128
                else:
                    zz = np.frombuffer(data[i:i + 64], dtype=np.uint8
                                       ).astype(np.int64)
                    i += 64
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = zz
                qtabs[tq] = nat
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                bits = list(data[i + 1:i + 17])
                nv = sum(bits)
                vals = list(data[i + 17:i + 17 + nv])
                hufftabs[(tc, th)] = _HuffLUT(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1
            prec, H, W, nc = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG not supported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = data[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            sof = {"H": H, "W": W, "comps": comps}
        elif marker == 0xC2:
            raise NotImplementedError(
                "progressive JPEG (SOF2) not supported — baseline only")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF marker 0x{marker:02x} not supported — baseline only")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if sof is None:
                raise ValueError("SOS before SOF")
            ns = data[0]
            scan = []
            for si in range(ns):
                cs, tt = data[1 + 2 * si:3 + 2 * si]
                comp = next(c for c in sof["comps"] if c["id"] == cs)
                scan.append((comp, tt >> 4, tt & 15))
            ent_start = pos + seglen
            return _decode_scan(payload, ent_start, sof, scan, qtabs,
                                hufftabs, restart_interval)
        # all other segments (APPn, COM, ...) are skipped
        pos += seglen
    raise ValueError("no SOS marker found")


def _split_entropy(payload: bytes, start: int) -> list[bytes]:
    """Entropy-coded bytes from ``start`` to the next real marker, split
    at restart markers, 0xFF00 stuffing collapsed."""
    segs = []
    seg_start = start
    pos = start
    n = len(payload)
    while True:
        ff = payload.find(b"\xff", pos)
        if ff == -1 or ff + 1 >= n:
            segs.append(payload[seg_start:n])
            break
        nxt = payload[ff + 1]
        if nxt == 0x00:
            pos = ff + 2          # stuffed 0xFF data byte
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(payload[seg_start:ff])
            seg_start = pos = ff + 2
        else:                     # real marker: end of scan
            segs.append(payload[seg_start:ff])
            break
    return [s.replace(b"\xff\x00", b"\xff") for s in segs]


def _decode_scan(payload, ent_start, sof, scan, qtabs, hufftabs,
                 restart_interval) -> np.ndarray:
    H, W, comps = sof["H"], sof["W"], [s[0] for s in scan]
    if len(comps) == 1:
        # non-interleaved scan: MCU = ONE data unit of the component
        # (T.81 A.2.2) — sampling factors don't shape the scan geometry
        comps = [dict(comps[0], h=1, v=1)]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-W // mcu_w)
    mcus_y = -(-H // mcu_h)
    n_mcus = mcus_x * mcus_y

    # per-component zigzag coefficient store: (mcu, block-in-mcu, 64).
    # Python touches ONLY this entropy pass; everything after (dequant,
    # dezigzag, IDCT, assembly, upsample, colorspace) is batched numpy.
    coeffs = [np.zeros((n_mcus, c["h"] * c["v"], 64), dtype=np.int32)
              for c in comps]
    dc_luts = [hufftabs[(0, s[1])] for s in scan]
    ac_luts = [hufftabs[(1, s[2])] for s in scan]

    segs = _split_entropy(payload, ent_start)
    expected_segs = (-(-n_mcus // restart_interval)
                     if restart_interval else 1)
    if len(segs) < expected_segs:
        raise ValueError("truncated entropy stream (missing restarts)")

    mcu = 0
    for seg in segs:
        r = _BitReader(seg)
        preds = [0] * len(comps)   # DC predictors reset at every restart
        last = (min(mcu + restart_interval, n_mcus)
                if restart_interval else n_mcus)
        while mcu < last:
            for ci, comp in enumerate(comps):
                dc_lut, ac_lut = dc_luts[ci], ac_luts[ci]
                blk = coeffs[ci][mcu]
                for b in range(comp["h"] * comp["v"]):
                    row = blk[b]
                    s = _decode_sym(r, dc_lut)
                    if s > 11:
                        raise ValueError("bad DC category")
                    if s:
                        preds[ci] += _extend(r.get_bits(s), s)
                    row[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = _decode_sym(r, ac_lut)
                        rr, ss = rs >> 4, rs & 15
                        if ss == 0:
                            if rr != 15:
                                break       # EOB
                            k += 16         # ZRL
                        else:
                            k += rr
                            if k > 63:
                                raise ValueError("AC index overflow")
                            row[k] = _extend(r.get_bits(ss), ss)
                            k += 1
            mcu += 1
        # truncation check: consumed bits past the real bytes means the
        # reader was running on synthetic zero-fill (legitimate pad-bit
        # consumption never leaves the final real byte)
        if r.pos * 8 - r.nbits > 8 * len(seg):
            raise ValueError("truncated entropy stream")
        if mcu >= n_mcus:
            break
    if mcu < n_mcus:
        raise ValueError(f"decoded {mcu}/{n_mcus} MCUs (truncated)")

    planes = []
    for ci, comp in enumerate(comps):
        q_zz = qtabs[comp["tq"]][ZIGZAG]
        zz = coeffs[ci].reshape(-1, 64) * q_zz          # dequant
        nat = np.zeros_like(zz, dtype=np.float64)
        nat[:, ZIGZAG] = zz                              # dezigzag
        blocks = nat.reshape(-1, 8, 8)
        spat = np.einsum("ij,njk,kl->nil", _C.T, blocks, _C)
        px = np.clip(np.round(spat) + 128, 0, 255).astype(np.uint8)
        # block layout: MCUs raster-ordered, blocks raster within MCU
        ch, cv = comp["h"], comp["v"]
        px = px.reshape(mcus_y, mcus_x, cv, ch, 8, 8)
        plane = px.transpose(0, 2, 4, 1, 3, 5).reshape(
            mcus_y * cv * 8, mcus_x * ch * 8)
        if hmax % ch or vmax % cv:
            raise NotImplementedError(
                f"non-integer sampling ratio {hmax}/{ch}, {vmax}/{cv}")
        if ch != hmax or cv != vmax:
            plane = np.repeat(np.repeat(plane, vmax // cv, axis=0),
                              hmax // ch, axis=1)
        planes.append(plane[:H, :W])

    if len(planes) == 1:
        return planes[0]
    if len(planes) != 3:
        raise NotImplementedError(
            f"{len(planes)}-component JPEG (CMYK?) not supported")
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack([
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder (baseline, standard tables, 4:4:4 or 4:2:0)
# ---------------------------------------------------------------------------

class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, val: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)     # byte stuffing
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)   # pad with 1s (T.81 F.1.2.3)


def _huff_codes(bits: list[int], vals: Sequence[int]) -> dict[int, tuple[int, int]]:
    out, code, k = {}, 0, 0
    for l in range(1, 17):
        for _ in range(bits[l - 1]):
            out[vals[k]] = (code, l)
            code += 1
            k += 1
        code <<= 1
    return out


def _scaled_quant(tbl: np.ndarray, quality: int) -> np.ndarray:
    # IJG quality scaling
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((tbl * scale + 50) // 100, 1, 255).astype(np.int64)


def _mag_cat(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_blocks_zz(plane: np.ndarray, qnat: np.ndarray) -> np.ndarray:
    """uint8 plane (multiple-of-8 dims) → (n_blocks, 64) int32 quantized
    zigzag coefficients, blocks in raster order."""
    h, w = plane.shape
    blocks = (plane.reshape(h // 8, 8, w // 8, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8)
              .astype(np.float64) - 128.0)
    F = np.einsum("ij,njk,kl->nil", _C, blocks, _C.T).reshape(-1, 64)
    qz = np.round(F / qnat).astype(np.int32)
    return qz[:, ZIGZAG]


def _pad8(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, mh - h), (0, mw - w)), mode="edge")


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                subsample: bool = False,
                restart_interval: int = 0) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB → baseline JFIF bytes.
    ``subsample=True`` writes 4:2:0 (box-mean chroma), else 4:4:4."""
    a = np.asarray(arr)
    if a.dtype != np.uint8 or a.ndim not in (2, 3):
        raise ValueError("encode_jpeg expects uint8 (h,w) or (h,w,3)")
    gray = a.ndim == 2
    if not gray and a.shape[2] != 3:
        raise ValueError(f"bad shape {a.shape}")
    H, W = a.shape[:2]
    ql = _scaled_quant(STD_QUANT_LUMA, quality)
    qc = _scaled_quant(STD_QUANT_CHROMA, quality)

    if gray:
        planes = [a.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        r = a[:, :, 0].astype(np.float64)
        g = a[:, :, 1].astype(np.float64)
        b = a[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            # pad to even then 2×2 box mean
            ce_h, ce_w = -(-H // 2) * 2, -(-W // 2) * 2
            cb_p = _pad8(cb, ce_h, ce_w)
            cr_p = _pad8(cr, ce_h, ce_w)
            cb = cb_p.reshape(ce_h // 2, 2, ce_w // 2, 2).mean(axis=(1, 3))
            cr = cr_p.reshape(ce_h // 2, 2, ce_w // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qsel = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    qnats = [ql, qc]

    # per-component quantized zigzag blocks, indexed (mcu_y, mcu_x, v, h)
    comp_blocks = []
    for p, (sh, sv), qi in zip(planes, samp, qsel):
        bw, bh = mcus_x * sh * 8, mcus_y * sv * 8
        padded = _pad8(np.clip(np.round(p), 0, 255).astype(np.uint8),
                       bh, bw)
        zz = _encode_blocks_zz(padded, qnats[qi])
        comp_blocks.append(zz.reshape(mcus_y, sv, mcus_x, sh, 64)
                           .transpose(0, 2, 1, 3, 4))

    dc_tabs = [_huff_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
               _huff_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)]
    ac_tabs = [_huff_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
               _huff_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)]
    tsel = [0] + [1] * (len(planes) - 1)

    out = bytearray()

    def wseg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">HH", 0xFF00 | marker, len(body) + 2))
        out.extend(body)

    out.extend(b"\xff\xd8")
    wseg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, nat in enumerate(qnats[:1 if gray else 2]):
        zz = nat[ZIGZAG].astype(np.uint8).tobytes()
        wseg(0xDB, bytes([tq]) + zz)
    nc = len(planes)
    sof = struct.pack(">BHHB", 8, H, W, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]])
    wseg(0xC0, sof)
    dht_src = [(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS),
               (1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)]
    if not gray:
        dht_src += [(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
                    (1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)]
    for tc, th, bits, vals in dht_src:
        wseg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        wseg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, (tsel[ci] << 4) | tsel[ci]])
    sos += b"\x00\x3f\x00"
    wseg(0xDA, sos)

    bw = _BitWriter()
    preds = [0] * nc
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (restart_interval and mcu
                    and mcu % restart_interval == 0):
                bw.flush()
                out.extend(bw.buf)
                bw = _BitWriter()
                out.extend(bytes([0xFF,
                                  0xD0 + ((mcu // restart_interval - 1) % 8)]))
                preds = [0] * nc
            for ci in range(nc):
                dc_t, ac_t = dc_tabs[tsel[ci]], ac_tabs[tsel[ci]]
                for v in range(samp[ci][1]):
                    for hh in range(samp[ci][0]):
                        zz = comp_blocks[ci][my, mx, v, hh]
                        diff = int(zz[0]) - preds[ci]
                        preds[ci] = int(zz[0])
                        s = _mag_cat(diff)
                        code, l = dc_t[s]
                        bw.put(code, l)
                        if s:
                            bw.put(diff if diff >= 0
                                   else diff + (1 << s) - 1, s)
                        run = 0
                        for k in range(1, 64):
                            v2 = int(zz[k])
                            if v2 == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, l = ac_t[0xF0]
                                bw.put(code, l)
                                run -= 16
                            s2 = _mag_cat(v2)
                            code, l = ac_t[(run << 4) | s2]
                            bw.put(code, l)
                            bw.put(v2 if v2 >= 0 else v2 + (1 << s2) - 1,
                                   s2)
                            run = 0
                        if run:
                            code, l = ac_t[0x00]
                            bw.put(code, l)
            mcu += 1
    bw.flush()
    out.extend(bw.buf)
    out.extend(b"\xff\xd9")
    return bytes(out)
