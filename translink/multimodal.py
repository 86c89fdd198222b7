"""Multimodal column plumbing — binary payloads with typed metadata.

Images/audio/video ride as opaque ``binary`` columns plus a typed metadata
struct; decode/feature-extraction run as Arrow-batched ``mapInPandas``
kernels so each partition streams through Python in bounded batches (the
Spark analog of the reference's MIME magic-number detection and
content-structure analysis, ``src/pipeline/quick_check.rs:292-370``).

Codecs: PNG, BMP, GIF, baseline JPEG, AVI Motion-JPEG and WAV decode FOR
REAL via pure-stdlib decoders — ``decode_png`` (zlib inflate +
per-scanline unfilter, public PNG spec / RFC 2083), ``decode_bmp``
(uncompressed BITMAPINFOHEADER 8/24-bit), ``decode_gif`` (variable-width
LZW, palettes, 4-pass interlace, public GIF87a/89a spec), ``decode_jpeg``
(baseline sequential DCT + canonical Huffman, grayscale / YCbCr 4:4:4,
4:2:2 and 4:2:0, restart intervals, public ITU T.81),
``decode_avi_mjpeg`` (RIFF/AVI demux of Motion-JPEG frames) and
``decode_wav`` (RIFF/WAVE 8/16-bit PCM) — no media library needed.
Variants without a codec here (progressive JPEG, 12-bit JPEG, arithmetic
coding, sampling factors above 2, non-AVI video) raise
NotImplementedError unless the deterministic fake decoder is requested. Everything around the codec
boundary — schema, partitioning, UDF signatures, batch iteration,
metadata extraction — is real and tested either way.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

#: Canonical schema for a multimodal asset table.
ASSET_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("media_type", StringType(), False),   # image|audio|video
    StructField("payload", BinaryType(), True),        # opaque bytes
    StructField("source", StringType(), True),
])

#: Output schema of the feature-extraction kernel.
FEATURE_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("media_type", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("magic", StringType(), True),          # sniffed container
    StructField("width", IntegerType(), True),         # fake-decoded dims
    StructField("height", IntegerType(), True),
    StructField("feature_hash", LongType(), True),     # digest of features
])

#: Magic-number table (public container signatures; analog of the
#: reference's detect_mime_type, src/pipeline/quick_check.rs:292-330).
_MAGIC = [
    (b"\xff\xd8\xff", "jpeg"),
    (b"\x89PNG", "png"),
    (b"GIF8", "gif"),
    (b"BM", "bmp"),
    (b"OggS", "ogg"),
    (b"\x1aE\xdf\xa3", "matroska"),
    (b"ID3", "mp3"),
]


def sniff_magic(payload: bytes | None) -> str | None:
    if not payload:
        return None
    if payload.startswith(b"RIFF"):
        # RIFF is a container family: the form type at offset 8 names it.
        sub = payload[8:12]
        if sub == b"WAVE":
            return "wav"
        if sub == b"AVI ":
            return "avi"
        return "riff"
    for sig, name in _MAGIC:
        if payload.startswith(sig):
            return name
    return "unknown"


#: PNG color type -> samples per pixel (public spec §6.1).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decoder (zlib inflate + per-scanline unfilter).

    Implements the public PNG specification (W3C / RFC 2083) for the
    common on-disk shape: 8-bit depth, color types 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced. Returns an
    ``(h, w)`` uint8 array for grayscale or ``(h, w, c)`` otherwise
    (palette entries are expanded to RGB). Raises ``ValueError`` for
    malformed bytes and ``NotImplementedError`` for valid-but-unsupported
    variants (16-bit, interlaced) — callers distinguish corrupt from
    out-of-scope.
    """
    if not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack(">I4s", payload[pos:pos + 8])
        if pos + 12 + length > len(payload):  # data + 4-byte CRC must fit
            raise ValueError("truncated PNG chunk")
        data = payload[pos + 8:pos + 8 + length]
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != struct.unpack(
            ">I", payload[pos + 8 + length:pos + 12 + length]
        )[0]:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if color not in _PNG_CHANNELS or comp != 0 or filt != 0:
        raise ValueError(f"invalid PNG header (color={color}, comp={comp})")
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG depth={depth} interlace={interlace} not supported "
            "(8-bit non-interlaced only)"
        )
    nch = _PNG_CHANNELS[color]
    stride = w * nch
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:  # corrupt stream = malformed bytes, not
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel payload has wrong length")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: + left (serial along the scanline)
            for i in range(nch, stride):
                line[i] = (int(line[i]) + int(line[i - nch])) & 0xFF
        elif ftype == 2:  # Up: + above (vectorized; uint8 add wraps mod 256)
            line += prev
        elif ftype == 3:  # Average
            for i in range(stride):
                left = int(line[i - nch]) if i >= nch else 0
                line[i] = (int(line[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - nch]) if i >= nch else 0
                b = int(prev[i])
                c = int(prev[i - nch]) if i >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = line
        prev = line
    img = out.reshape(h, w, nch) if nch > 1 else out.reshape(h, w)
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("paletted PNG without a valid PLTE")
        img = np.frombuffer(plte, np.uint8).reshape(-1, 3)[img.reshape(h, w)]
    return img


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG encoder (8-bit, non-interlaced) — the fixture/round-trip
    counterpart of ``decode_png``. ``img`` is ``(h, w)`` gray or ``(h, w,
    c)`` with c in {2, 3, 4}; ``filter_type`` 0-4 applies that filter to
    every scanline (exercises each decoder unfilter path).
    """
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w, nch = *img.shape, 1
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        h, w, nch = img.shape
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    flat = img.reshape(h, w * nch).astype(np.int16)
    lines = []
    prev = np.zeros(w * nch, dtype=np.int16)
    for y in range(h):
        cur = flat[y]
        left = np.zeros_like(cur)
        left[nch:] = cur[:-nch]
        up_left = np.zeros_like(prev)
        up_left[nch:] = prev[:-nch]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            p = left + prev - up_left
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - up_left)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, up_left)
            )
            enc = cur - pred
        else:
            raise ValueError(f"filter_type {filter_type} invalid")
        lines.append(bytes([filter_type]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


#: ITU T.81 Annex K luminance quantization table (public spec constants),
#: zigzag-linearized on demand. Used by the ENCODER only — the decoder
#: always reads DQT/DHT from the stream, so decode correctness never
#: depends on these constants.
_JPEG_QUANT_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

#: Annex K typical Huffman tables (BITS, HUFFVAL) — DC/AC luminance.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
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
]


def _jpeg_zigzag() -> np.ndarray:
    """The 64-entry zigzag scan order, computed (not recalled): traverse
    anti-diagonals, alternating direction — up-right on even sums."""
    order = []
    for s in range(15):
        cells = [(r, s - r) for r in range(max(0, s - 7), min(s, 7) + 1)]
        order.extend(cells if s % 2 else cells[::-1])
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_JPEG_ZZ = _jpeg_zigzag()

#: Orthonormal 8x8 DCT-II basis: forward F = D @ f @ D.T, inverse
#: f = D.T @ F @ D (A.3.3 of the spec, matrix form).
_JPEG_DCT = np.array([
    [(np.sqrt(0.125) if u == 0 else 0.5)
     * np.cos((2 * x + 1) * u * np.pi / 16) for x in range(8)]
    for u in range(8)
])


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (spec C.2): value -> (code, length)."""
    out, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


def _jpeg_huff_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman decode map: (length, code) -> value."""
    out, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return out


def _jpeg_quality_table(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality scaling of a base quantization table."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing
    and restart-marker awareness."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos = data, pos
        self.acc, self.nbits = 0, 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy stream ran out of bytes")
        byte = d[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(d):
                raise ValueError("JPEG truncated after 0xFF")
            nxt = d[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            elif 0xD0 <= nxt <= 0xD7:
                raise ValueError("JPEG unexpected restart marker mid-symbol")
            else:
                # marker (e.g. EOI) reached while decoder still wants bits:
                # pad with 1s per spec; rewind so the caller sees the marker
                self.pos -= 1
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bits(1)
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("JPEG invalid Huffman code")

    def restart(self) -> None:
        """Consume an RSTn marker at a byte-aligned restart boundary."""
        self.acc, self.nbits = 0, 0
        d = self.data
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF \
                or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("JPEG missing restart marker")
        self.pos += 2


def _jpeg_extend(v: int, s: int) -> int:
    """Sign-extend an s-bit magnitude value (spec F.2.2.1 EXTEND)."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Pure-stdlib baseline JPEG decoder (public ITU T.81 / JFIF spec).

    Supports baseline sequential DCT (SOF0), 8-bit precision, grayscale
    and 3-component YCbCr with sampling factors 1 and 2 per axis — i.e.
    4:4:4, 4:2:2 and the ubiquitous 4:2:0 — stream-carried DQT/DHT (any
    tables, not just Annex K), and restart intervals. Returns ``(h, w)``
    uint8 for grayscale or ``(h, w, 3)`` RGB. Raises ``ValueError`` for
    malformed bytes and ``NotImplementedError`` for
    valid-but-unsupported variants (progressive SOF2, 12-bit, arithmetic
    coding, sampling factors above 2) — callers distinguish corrupt from
    out-of-scope.
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (h, w, [(cid, tq, td, ta)])
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG has no scan")
        seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        seg = payload[pos + 4:pos + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("JPEG truncated segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("JPEG 16-bit quant tables")
                tbl = np.frombuffer(seg[p + 1:p + 65], np.uint8)
                if tbl.size != 64:
                    raise ValueError("JPEG truncated DQT")
                dq = np.zeros(64, np.int32)
                dq[_JPEG_ZZ] = tbl
                qt[tq] = dq.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                vals = list(seg[p + 17:p + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("JPEG truncated DHT")
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _jpeg_huff_decoder(bits, vals)
                p += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec}")
            comps = []
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i:9 + 3 * i]
                hs, vs = samp >> 4, samp & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    raise NotImplementedError(
                        f"JPEG sampling factors {hs}x{vs} not supported "
                        "(1 and 2 only — covers 4:4:4, 4:2:2, 4:2:0)"
                    )
                comps.append([cid, tq, None, None, hs, vs])
            if nc not in (1, 3):
                raise NotImplementedError(f"JPEG {nc}-component frame")
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} not supported (baseline SOF0 only)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            for i in range(ns):
                cs, tda = seg[1 + 2 * i], seg[2 + 2 * i]
                for c in frame[2]:
                    if c[0] == cs:
                        c[2], c[3] = tda >> 4, tda & 0x0F
            pos = pos + 2 + seg_len
            return _jpeg_scan(payload, pos, frame, qt, huff_dc, huff_ac,
                              restart_interval)
        # APPn/COM/others: skipped
        pos += 2 + seg_len
    raise ValueError("JPEG ended before SOS")


def _jpeg_scan(payload, pos, frame, qt, huff_dc, huff_ac, restart_interval):
    h, w, comps = frame
    if h < 1 or w < 1:
        raise ValueError(f"JPEG dims {w}x{h} invalid")
    for cid, tq, td, ta, hs, vs in comps:
        if tq not in qt or td not in huff_dc or ta not in huff_ac:
            raise ValueError("JPEG scan references missing DQT/DHT table")
    rd = _JpegBitReader(payload, pos)
    hmax = max(c[4] for c in comps)
    vmax = max(c[5] for c in comps)
    # MCU grid over hmax*8 x vmax*8 pixel tiles; each component ci
    # contributes hs*vs blocks per MCU into its own (subsampled) plane
    mx = (w + 8 * hmax - 1) // (8 * hmax)
    my = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [np.zeros((my * 8 * c[5], mx * 8 * c[4]), np.float64)
              for c in comps]
    pred = [0] * len(comps)
    mcu = 0
    for y in range(my):
        for x in range(mx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                rd.restart()
                pred = [0] * len(comps)
            for ci, (cid, tq, td, ta, hs, vs) in enumerate(comps):
                for bv in range(vs):
                    for bh in range(hs):
                        s = rd.huff(huff_dc[td])
                        if s > 11:
                            raise ValueError("JPEG DC category out of range")
                        pred[ci] += _jpeg_extend(rd.bits(s), s)
                        coefs = np.zeros(64, np.float64)
                        coefs[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = rd.huff(huff_ac[ta])
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            coefs[k] = _jpeg_extend(rd.bits(size), size)
                            k += 1
                        blk = np.zeros(64, np.float64)
                        blk[_JPEG_ZZ] = coefs
                        blk = blk.reshape(8, 8) * qt[tq]
                        pix = _JPEG_DCT.T @ blk @ _JPEG_DCT + 128.0
                        py = (y * vs + bv) * 8
                        px = (x * hs + bh) * 8
                        planes[ci][py:py + 8, px:px + 8] = pix
            mcu += 1
    # upsample subsampled components to full resolution (nearest —
    # spec-legal; smooth-upsampling differences are below the codec's
    # quantization noise), then crop the MCU padding
    full = []
    for (cid, tq, td, ta, hs, vs), p in zip(comps, planes):
        if hs != hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        if vs != vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        full.append(p[:h, :w])
    planes = full
    if len(comps) == 1:
        return np.clip(planes[0].round(), 0, 255).astype(np.uint8)
    yy, cb, cr = planes
    r = yy + 1.402 * (cr - 128.0)
    g = yy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = yy + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255) \
        .astype(np.uint8)


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    restart_interval: int = 0,
    subsample: str = "444",
) -> bytes:
    """Minimal baseline JPEG encoder — the fixture/round-trip counterpart
    of :func:`decode_jpeg`. ``img`` is ``(h, w)`` gray or ``(h, w, 3)``
    RGB uint8; ``subsample`` picks 4:4:4 (default) or 4:2:0 (2x2 Y
    blocks per MCU, chroma block-averaged — the real-world default), and
    Annex K tables scale by ``quality`` (chrominance reuses the
    luminance table — valid per the spec, simpler, and slightly
    higher-fidelity). ``restart_interval``
    emits a DRI segment and byte-aligned RSTn markers every that many
    MCUs (predictors reset) — the error-resilience feature real encoders
    ship, and the fixture for the decoder's restart path."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        ncomp = 1
        planes = [img.astype(np.float64)]
    elif img.ndim == 3 and img.shape[2] == 3:
        ncomp = 3
        r, g, b = (img[..., i].astype(np.float64) for i in range(3))
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,                    # Y
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,       # Cb
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,        # Cr
        ]
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w = img.shape[:2]
    q = _jpeg_quality_table(_JPEG_QUANT_LUM, quality)
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    acc, nbits = 0, 0
    out = bytearray()

    def emit(code: int, ln: int) -> None:
        nonlocal acc, nbits
        acc = (acc << ln) | code
        nbits += ln
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # byte stuffing
            acc &= (1 << nbits) - 1

    def emit_val(v: int) -> tuple[int, int]:
        """-> (category, extend-coded bits) for a coefficient value."""
        s = int(abs(v)).bit_length()
        return s, (v if v >= 0 else v + (1 << s) - 1)

    def flush() -> None:  # byte-align, padding with 1s (spec F.1.2.3)
        nonlocal acc, nbits
        if nbits:
            pad = 8 - nbits
            emit((1 << pad) - 1, pad)

    if ncomp == 3 and subsample == "420":
        samps = [(2, 2), (1, 1), (1, 1)]
    elif subsample == "444" or ncomp == 1:
        samps = [(1, 1)] * ncomp
    else:
        raise ValueError(f"subsample {subsample!r} not in '444'|'420'")
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mx = (w + 8 * hmax - 1) // (8 * hmax)
    my = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for p, (hs, vs) in zip(planes, samps):
        fh, fv = hmax // hs, vmax // vs
        if fh > 1 or fv > 1:
            # chroma downsample by block averaging (edge-padded first)
            ph = (p.shape[0] + fv - 1) // fv * fv
            pw = (p.shape[1] + fh - 1) // fh * fh
            p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                       mode="edge")
            p = p.reshape(ph // fv, fv, pw // fh, fh).mean(axis=(1, 3))
        th, tw = my * 8 * vs, mx * 8 * hs
        padded.append(np.pad(
            p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge"
        ))

    pred = [0] * ncomp

    def enc_block(ci: int, blk: np.ndarray) -> None:
        coefs = _JPEG_DCT @ (blk - 128.0) @ _JPEG_DCT.T
        qz = np.round(coefs / q).astype(np.int64).reshape(64)[_JPEG_ZZ]
        diff = int(qz[0]) - pred[ci]
        pred[ci] = int(qz[0])
        s, v = emit_val(diff)
        emit(*dc_codes[s])
        if s:
            emit(v, s)
        run = 0
        last = np.nonzero(qz[1:])[0]
        last = int(last[-1]) + 1 if last.size else 0
        for k in range(1, last + 1):
            c = int(qz[k])
            if c == 0:
                run += 1
                continue
            while run > 15:
                emit(*ac_codes[0xF0])  # ZRL
                run -= 16
            s, v = emit_val(c)
            emit(*ac_codes[(run << 4) | s])
            emit(v, s)
            run = 0
        if last < 63:
            emit(*ac_codes[0x00])  # EOB

    mcu, rst = 0, 0
    for y in range(my):
        for x in range(mx):
            if restart_interval and mcu and mcu % restart_interval == 0:
                flush()
                out.extend((0xFF, 0xD0 + rst % 8))  # raw marker, unstuffed
                rst += 1
                pred = [0] * ncomp
            mcu += 1
            for ci, (hs, vs) in enumerate(samps):
                for bv in range(vs):
                    for bh in range(hs):
                        py = (y * vs + bv) * 8
                        px = (x * hs + bh) * 8
                        enc_block(ci, padded[ci][py:py + 8, px:px + 8])
    flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes(int(v) for v in q.reshape(64)[_JPEG_ZZ]))
    sof_comps = b"".join(
        bytes([i + 1, (hs << 4) | vs, 0])
        for i, (hs, vs) in enumerate(samps)
    )
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    dht = seg(0xC4, bytes([0x00] + _JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)) \
        + seg(0xC4, bytes([0x10] + _JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    dri = seg(0xDD, struct.pack(">H", restart_interval)) \
        if restart_interval else b""
    sos_comps = b"".join(bytes([i + 1, 0x00]) for i in range(ncomp))
    sos = seg(0xDA, bytes([ncomp]) + sos_comps + bytes([0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht + dri + sos + bytes(out)
            + b"\xff\xd9")


def decode_gif(payload: bytes) -> np.ndarray:
    """Pure-stdlib GIF decoder (public GIF87a/89a spec: LZW + palette).

    Decodes the FIRST image frame: variable-width LSB-first LZW codes
    (CLEAR/EOI handling, table growth to the 12-bit cap), global or local
    color table, and the 4-pass interlace row order. Palette indices are
    expanded to RGB, so the return is ``(h, w, 3)`` uint8 — the same
    convention as paletted PNG in :func:`decode_png`. Raises ``ValueError``
    for malformed bytes; animation (later frames) and GCE transparency are
    ignored by design (first-frame pixels are the content identity).
    """
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos:pos + 3 * n], np.uint8)
        if gct.size != 3 * n:
            raise ValueError("truncated GIF global color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n

    def subblocks(p: int) -> tuple[bytes, int]:
        chunks = []
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF sub-blocks")
            ln = payload[p]
            p += 1
            if ln == 0:
                return b"".join(chunks), p
            if p + ln > len(payload):
                raise ValueError("truncated GIF sub-block")
            chunks.append(payload[p:p + ln])
            p += ln

    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer before any image
            raise ValueError("GIF contains no image descriptor")
        if block == 0x21:  # extension: label byte + sub-blocks, skipped
            _, pos = subblocks(pos + 2)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        w, h = struct.unpack("<HH", payload[pos + 5:pos + 9])
        ipacked = payload[pos + 9]
        pos += 10
        table = gct
        if ipacked & 0x80:  # local color table
            n = 2 << (ipacked & 0x07)
            table = np.frombuffer(payload[pos:pos + 3 * n], np.uint8)
            if table.size != 3 * n:
                raise ValueError("truncated GIF local color table")
            table = table.reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("GIF image without any color table")
        if w < 1 or h < 1:
            raise ValueError(f"GIF dims {w}x{h} invalid")
        mcs = payload[pos]
        if not (2 <= mcs <= 11):
            raise ValueError(f"GIF LZW min code size {mcs} invalid")
        data, pos = subblocks(pos + 1)

        # ---- LZW decode (LSB-first variable-width codes) ---------------
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        base = [bytes([i]) for i in range(clear)] + [b"", b""]
        dictionary = list(base)
        code_size = mcs + 1
        acc = nbits = di = 0
        prev: int | None = None
        out: list[bytes] = []
        n_px = w * h
        got = 0
        while got < n_px:
            while nbits < code_size:
                if di >= len(data):
                    raise ValueError("GIF LZW stream ran out of codes")
                acc |= data[di] << nbits
                nbits += 8
                di += 1
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                dictionary = list(base)
                code_size = mcs + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                if code >= clear:
                    raise ValueError("GIF LZW first code not a literal")
                entry = dictionary[code]
            elif code < len(dictionary):
                entry = dictionary[code]
                if len(dictionary) < 4096:
                    dictionary.append(dictionary[prev] + entry[:1])
            elif code == len(dictionary) and len(dictionary) < 4096:
                entry = dictionary[prev] + dictionary[prev][:1]
                dictionary.append(entry)
            else:
                raise ValueError(f"GIF LZW code {code} out of range")
            out.append(entry)
            got += len(entry)
            if len(dictionary) == (1 << code_size) and code_size < 12:
                code_size += 1
            prev = code
        idx = np.frombuffer(b"".join(out), np.uint8)[:n_px]
        if idx.size < n_px:
            raise ValueError("GIF pixel payload has wrong length")
        if int(idx.max(initial=0)) >= table.shape[0]:
            raise ValueError("GIF pixel index outside the color table")
        img = idx.reshape(h, w)
        if ipacked & 0x40:  # 4-pass interlace (spec appendix E)
            rows = (
                list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2))
            )
            de = np.empty_like(img)
            de[rows] = img
            img = de
        return table[img]
    raise ValueError("truncated GIF (no trailer, no image)")


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """Minimal GIF89a encoder — the fixture/round-trip counterpart of
    :func:`decode_gif`. ``img`` is ``(h, w)`` uint8; indices double as a
    256-entry grayscale palette. The LZW stream emits literal codes only,
    tracking the decoder's table growth for the variable code width and
    issuing CLEAR at the 12-bit cap — valid LZW, no compression."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 2:
        raise ValueError(f"unsupported image shape {img.shape} (gray only)")
    h, w = img.shape
    if interlace:
        # rows stored in 4-pass order; the decoder scatters them back
        order = np.concatenate([
            np.arange(0, h, 8), np.arange(4, h, 8),
            np.arange(2, h, 4), np.arange(1, h, 2),
        ])
        img = img[order]
    gct = bytes(v for i in range(256) for v in (i, i, i))
    mcs = 8
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    acc = nbits = 0
    buf = bytearray()

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = mcs + 1
    n_codes = eoi + 1
    emit(clear, code_size)
    first = True
    for px in img.ravel():
        emit(int(px), code_size)
        if first:
            first = False
            continue
        n_codes += 1  # the decoder appends one entry per non-first code
        if n_codes == (1 << code_size):
            if code_size < 12:
                code_size += 1
            else:
                emit(clear, code_size)
                code_size = mcs + 1
                n_codes = eoi + 1
                first = True
    emit(eoi, code_size)
    if nbits:
        buf.append(acc & 0xFF)

    sub = b"".join(
        bytes([min(255, len(buf) - i)]) + bytes(buf[i:i + 255])
        for i in range(0, len(buf), 255)
    ) + b"\x00"
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)  # 256-entry GCT
        + gct
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                0x40 if interlace else 0)
        + bytes([mcs]) + sub + b"\x3b"
    )


def decode_avi_mjpeg(payload: bytes) -> tuple[list[np.ndarray], float]:
    """Pure-stdlib AVI (RIFF) demuxer for Motion-JPEG streams.

    Walks the public RIFF/AVI layout — LIST('hdrl') with the 'avih' main
    header (frame period, dims), LIST('movi') with '00dc' compressed
    frame chunks — and decodes every frame with :func:`decode_jpeg`.
    Returns ``(frames, fps)``. Raises ``ValueError`` for malformed bytes
    and ``NotImplementedError`` when the frame chunks are not JPEG
    (other codecs have no decoder in this environment).
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    fps = 25.0
    frames: list[np.ndarray] = []

    def walk(pos: int, end: int) -> None:
        nonlocal fps
        while pos + 8 <= end:
            cid, clen = struct.unpack("<4sI", payload[pos:pos + 8])
            body_end = pos + 8 + clen
            if body_end > end:
                raise ValueError(f"truncated AVI chunk {cid!r}")
            if cid == b"LIST":
                walk(pos + 12, body_end)  # skip the 4-byte list type
            elif cid == b"avih":
                if clen < 4:
                    raise ValueError("AVI avih header too short")
                usec = struct.unpack("<I", payload[pos + 8:pos + 12])[0]
                if usec:
                    fps = 1e6 / usec
            elif cid[2:4] in (b"dc", b"db") and clen:
                frame = payload[pos + 8:body_end]
                if not frame.startswith(b"\xff\xd8"):
                    raise NotImplementedError(
                        "AVI stream is not Motion-JPEG; no other video "
                        "codec decodes in this environment"
                    )
                frames.append(decode_jpeg(frame))
            pos = body_end + (clen & 1)  # chunks are word-aligned

    walk(12, len(payload))
    if not frames:
        raise ValueError("AVI contains no frame chunks")
    return frames, fps


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: float = 25.0, quality: int = 90
) -> bytes:
    """Minimal AVI Motion-JPEG writer — the fixture/round-trip counterpart
    of :func:`decode_avi_mjpeg`. Each frame is JPEG-encoded with
    :func:`encode_jpeg`; headers carry the real dims/rate/frame count."""
    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = [encode_jpeg(f, quality=quality) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    usec = int(round(1e6 / fps))
    avih = struct.pack(
        "<IIIIIIIIII4I", usec, 0, 0, 0, len(frames), 0, 1,
        max(len(p) for p in payloads), w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H", b"vids", b"MJPG", 0, 0, 0, 0,
        1, int(round(fps)), 0, len(frames),
        max(len(p) for p in payloads), 0, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Pure-stdlib BMP decoder (uncompressed BITMAPINFOHEADER, per the
    public BMP file format).

    Supports the common on-disk shapes: 24-bit BGR and 8-bit paletted,
    compression BI_RGB (0), bottom-up or top-down row order. Returns an
    ``(h, w, 3)`` uint8 RGB array. Raises ``ValueError`` for malformed
    bytes and ``NotImplementedError`` for valid-but-unsupported variants
    (RLE compression, 1/4/16/32-bit, BITMAPCOREHEADER) — same corrupt vs
    out-of-scope taxonomy as ``decode_png``.
    """
    if len(payload) < 2 or payload[:2] != b"BM":
        raise ValueError("not a BMP (bad signature)")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError(
            f"BMP header size {hdr_size} not supported (BITMAPINFOHEADER+)"
        )
    w, h_signed = struct.unpack("<ii", payload[18:26])
    _planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if w <= 0 or h_signed == 0:
        raise ValueError(f"BMP dimensions {w}x{h_signed} invalid")
    if compression != 0:
        raise NotImplementedError(
            f"BMP compression {compression} not supported (BI_RGB only)"
        )
    if bpp not in (8, 24):
        raise NotImplementedError(f"BMP {bpp}-bit not supported (8/24-bit)")
    top_down = h_signed < 0
    h = abs(h_signed)
    stride = (w * bpp // 8 + 3) & ~3  # rows pad to 4-byte boundaries
    if data_offset + stride * h > len(payload):
        raise ValueError("BMP pixel payload truncated")
    rows = np.frombuffer(
        payload, np.uint8, count=stride * h, offset=data_offset
    ).reshape(h, stride)
    if bpp == 24:
        img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    else:
        n_colors = struct.unpack("<I", payload[46:50])[0] or 256
        pal_off = 14 + hdr_size
        if pal_off + n_colors * 4 > data_offset or n_colors > 256:
            raise ValueError("BMP palette truncated or oversized")
        pal = np.frombuffer(
            payload, np.uint8, count=n_colors * 4, offset=pal_off
        ).reshape(-1, 4)[:, [2, 1, 0]]  # BGRA quads -> RGB
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP pixel index outside palette")
        img = pal[idx]
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_bmp(img: np.ndarray, top_down: bool = False) -> bytes:
    """Minimal 24-bit uncompressed BMP encoder — the fixture/round-trip
    counterpart of ``decode_bmp``. ``img`` is ``(h, w, 3)`` RGB or
    ``(h, w)`` gray (broadcast to RGB)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[:, :, ::-1].reshape(h, w * 3)  # RGB -> BGR
    if not top_down:
        rows = rows[::-1]
    pix = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
        len(pix), 2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    return header + info + pix


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Pure-stdlib RIFF/WAVE PCM decoder (public WAVE format).

    Supports integer PCM (format tag 1) at 8-bit unsigned / 16-bit signed
    little-endian, any channel count. Returns ``(samples, sample_rate)``
    with ``samples`` shaped ``(n_frames, n_channels)`` (uint8 or int16).
    Raises ``ValueError`` for malformed bytes and ``NotImplementedError``
    for valid-but-unsupported variants (float/ADPCM, 24/32-bit).
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack("<4sI", payload[pos:pos + 8])
        body = payload[pos + 8:pos + 8 + clen]
        if len(body) < clen:
            raise ValueError(f"truncated WAVE chunk {cid!r}")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("WAVE fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format, n_ch, rate, _byte_rate, block_align, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"WAVE format tag {audio_format} not supported (integer PCM only)"
        )
    if bits not in (8, 16):
        raise NotImplementedError(f"WAVE {bits}-bit not supported (8/16-bit)")
    if n_ch < 1 or rate < 1:
        raise ValueError(f"WAVE channels={n_ch} rate={rate} invalid")
    frame_bytes = n_ch * (bits // 8)
    if block_align != frame_bytes:
        raise ValueError(
            f"WAVE block_align {block_align} inconsistent with "
            f"{n_ch}ch x {bits}-bit"
        )
    n_frames = len(data) // frame_bytes
    dt = np.uint8 if bits == 8 else np.dtype("<i2")
    samples = np.frombuffer(
        data[: n_frames * frame_bytes], dtype=dt
    ).reshape(n_frames, n_ch)
    return samples, int(rate)


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE PCM encoder — the fixture/round-trip counterpart
    of ``decode_wav``. ``samples`` is ``(n_frames,)`` or ``(n_frames,
    n_channels)`` uint8 (8-bit) or int16 (16-bit)."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2:
        raise ValueError(f"unsupported sample shape {samples.shape}")
    if samples.dtype == np.uint8:
        bits = 8
    elif samples.dtype == np.int16:
        bits = 16
    else:
        raise ValueError(f"unsupported sample dtype {samples.dtype}")
    n_frames, n_ch = samples.shape
    data = np.ascontiguousarray(
        samples.astype("<i2") if bits == 16 else samples
    ).tobytes()
    frame_bytes = n_ch * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * frame_bytes,
        frame_bytes, bits,
    )
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_image_batch(payloads: pd.Series, fake: bool = False) -> pd.DataFrame:
    """Decode a batch of image payloads to (width, height, feature_hash).

    The real path (``fake=False``) decodes PNG and BMP payloads with the
    pure-stdlib ``decode_png``/``decode_bmp`` (feature hash over the
    DECODED pixel array) and raises NotImplementedError for containers
    with no codec in this environment (jpeg/gif/...). With ``fake=True``
    the deterministic stand-in derives dims and a feature hash from the
    raw bytes for EVERY payload, so the distributed plumbing is testable
    with arbitrary fixture bytes.
    """
    widths, heights, hashes = [], [], []
    for p in payloads:
        if p is None or len(p) == 0:
            widths.append(None); heights.append(None); hashes.append(None)
            continue
        if not fake:
            img = _decode_image_real(p)
            heights.append(int(img.shape[0]))
            widths.append(int(img.shape[1]))
            hashes.append(_hash_u8(img))
            continue
        arr = np.frombuffer(p, dtype=np.uint8)
        widths.append(int(16 + arr[: 8].sum() % 1024))
        heights.append(int(16 + arr[-8:].sum() % 1024))
        # order-sensitive content digest (blake2b, C-speed over the raw
        # bytes). A byte-sum digest is permutation-invariant — any two
        # payloads with equal sums collide, and dedup_by_feature then
        # merges distinct assets as exact duplicates; the int64 sum also
        # overflows for payloads past ~65KB.
        hashes.append(_hash_bytes(p))
    return pd.DataFrame({"width": widths, "height": heights, "feature_hash": hashes})


def extract_features(assets: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Distributed feature extraction over the asset table via mapInPandas.

    Arrow batches stream through the kernel per partition — constant memory
    regardless of table size; repartition upstream to bound batch payload
    bytes (spark.sql.execution.arrow.maxRecordsPerBatch caps rows)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = decode_image_batch(pdf["payload"], fake=fake_decode)
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["payload"].map(lambda p: len(p) if p is not None else 0),
                "magic": pdf["payload"].map(sniff_magic),
                "width": decoded["width"],
                "height": decoded["height"],
                "feature_hash": decoded["feature_hash"],
            })

    return assets.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def dedup_by_feature(features: DataFrame) -> DataFrame:
    """Exact-duplicate assets by feature hash (hash-and-group A5 on the
    multimodal path)."""
    from pyspark.sql import Window

    w = Window.partitionBy("feature_hash")
    return (
        features
        .filter(F.col("feature_hash").isNotNull())
        .select(
            "asset_id", "feature_hash",
            F.min("asset_id").over(w).alias("cluster_id"),
            F.count("*").over(w).alias("group_size"),
        )
        .filter(F.col("group_size") >= 2)
    )


#: Output schema of the resize kernel.
THUMB_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("thumb", BinaryType(), True),          # resized grayscale
    StructField("thumb_hash", LongType(), True),
])

#: Output schema of the frame sampler (one row PER SAMPLED FRAME).
FRAME_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("ts_ms", LongType(), False),
    StructField("frame_hash", LongType(), True),
])

#: Output schema of the audio chunker (one row PER WINDOW).
CHUNK_SCHEMA = StructType([
    StructField("asset_id", LongType(), False),
    StructField("chunk_idx", IntegerType(), False),
    StructField("start_ms", LongType(), False),
    StructField("end_ms", LongType(), False),
    StructField("chunk_hash", LongType(), True),
])


def _decode_image_real(payload: bytes) -> np.ndarray:
    """Dispatch to the real pure-stdlib codec by sniffed container; raises
    NotImplementedError for containers with no codec in this environment."""
    magic = sniff_magic(payload)
    if magic == "png":
        return decode_png(payload)
    if magic == "bmp":
        return decode_bmp(payload)
    if magic == "gif":
        return decode_gif(payload)
    if magic == "jpeg":
        return decode_jpeg(payload)
    raise NotImplementedError(
        f"no {magic} codec in this environment; only PNG/BMP/GIF/JPEG "
        "decode for real — pass the fake flag for the deterministic "
        "stand-in decoder"
    )


def _fake_decode_gray(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for an image codec: tile the payload bytes
    into a square uint8 grayscale array. The ONLY fake step — everything
    downstream (resampling, hashing, schema) operates on the real array."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    side = max(int(np.sqrt(arr.size)), 1)
    return np.resize(arr, (side, side))


def _hash_bytes(b: bytes) -> int:
    """Order-sensitive 63-bit content digest (blake2b truncated): content
    identity without shipping the bytes. Must be position-sensitive — a
    byte-sum/FNV-of-chunk-sums digest is permutation-invariant within its
    chunks, so distinct frames/thumbnails collide constantly and any
    dedup built on the hash merges unrelated assets."""
    d = hashlib.blake2b(b, digest_size=8).digest()
    return int.from_bytes(d, "big") & 0x7FFFFFFFFFFFFFFF


def _hash_u8(a: np.ndarray) -> int:
    """_hash_bytes over a uint8 array's buffer (row-major, contiguous)."""
    return _hash_bytes(np.ascontiguousarray(a).tobytes())


def resize_images(
    assets: DataFrame, width: int = 32, height: int = 32,
    fake_decode: bool = True,
) -> DataFrame:
    """Distributed thumbnail/resize pass: decode -> nearest-neighbor
    resample to (width, height) -> re-encode as raw bytes + digest.

    The resample is REAL numpy index arithmetic (the operation a training
    pipeline runs before feature extraction). With ``fake_decode=False``
    PNG/BMP payloads decode for real (``decode_png``/``decode_bmp``;
    multi-channel images collapse to grayscale by integer channel mean)
    and other containers raise; the fake path decodes any bytes
    deterministically. Identical payloads produce identical thumbs and
    hashes either way, so near-dup-by-thumbnail composes with
    dedup_by_feature."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [],
                   "thumb": [], "thumb_hash": []}
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                out["asset_id"].append(aid)
                out["width"].append(width)
                out["height"].append(height)
                if p is None or len(p) == 0:
                    out["thumb"].append(None)
                    out["thumb_hash"].append(None)
                    continue
                if fake_decode:
                    img = _fake_decode_gray(p)
                else:
                    img = _decode_image_real(p)
                    if img.ndim == 3:
                        # integer channel mean: deterministic, no float
                        img = (
                            img.astype(np.uint16).sum(axis=2)
                            // img.shape[2]
                        ).astype(np.uint8)
                h, w = img.shape
                # nearest-neighbor resample via integer index maps
                yi = (np.arange(height) * h) // height
                xi = (np.arange(width) * w) // width
                thumb = img[yi[:, None], xi]
                out["thumb"].append(thumb.tobytes())
                out["thumb_hash"].append(_hash_u8(thumb))
            yield pd.DataFrame(out)

    return assets.mapInPandas(kernel, schema=THUMB_SCHEMA)


def sample_video_frames(
    assets: DataFrame,
    frame_bytes: int = 256,
    fps: float = 25.0,
    every_nth: int = 10,
    max_frames: int = 32,
    fake_decode: bool = True,
) -> DataFrame:
    """Frame sampling: one output row per sampled frame, uniform stride
    ``every_nth`` capped at ``max_frames`` — the exact shape of a
    keyframe-extraction pass (output cardinality GROWS past the input's;
    Arrow batches bound memory per partition regardless).

    With ``fake_decode=False`` payloads demux + decode FOR REAL as AVI
    Motion-JPEG (:func:`decode_avi_mjpeg`): the stride walks DECODED
    frames, timestamps follow the container's own frame rate, and digests
    cover decoded pixels; non-AVI containers raise. The fake "demuxer"
    treats the payload as fixed-size frame records; stride/timestamp
    arithmetic and per-frame digests are real either way."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "ts_ms": [], "frame_hash": []}
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if p is None or len(p) == 0:
                    continue
                if fake_decode:
                    n_frames = max(len(p) // frame_bytes, 1)
                    for k, idx in enumerate(range(0, n_frames, every_nth)):
                        if k >= max_frames:
                            break
                        frame = np.frombuffer(
                            p[idx * frame_bytes:(idx + 1) * frame_bytes],
                            dtype=np.uint8,
                        )
                        out["asset_id"].append(aid)
                        out["frame_idx"].append(idx)
                        out["ts_ms"].append(int(idx * 1000.0 / fps))
                        out["frame_hash"].append(
                            _hash_u8(frame) if frame.size else None
                        )
                    continue
                if sniff_magic(p) != "avi":
                    raise NotImplementedError(
                        f"no {sniff_magic(p)} video codec in this "
                        "environment; only AVI Motion-JPEG demuxes for "
                        "real — pass fake_decode=True for the stand-in"
                    )
                frames, stream_fps = decode_avi_mjpeg(p)
                for k, idx in enumerate(range(0, len(frames), every_nth)):
                    if k >= max_frames:
                        break
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(idx)
                    out["ts_ms"].append(int(idx * 1000.0 / stream_fps))
                    out["frame_hash"].append(_hash_u8(frames[idx]))
            yield pd.DataFrame(out)

    return assets.mapInPandas(kernel, schema=FRAME_SCHEMA)


def chunk_audio(
    assets: DataFrame,
    bytes_per_ms: float = 16.0,
    window_ms: int = 1000,
    hop_ms: int = 500,
    fake_decode: bool = True,
) -> DataFrame:
    """Overlapping-window audio segmentation: one row per window with
    timestamps and a content digest. With ``fake_decode=False`` payloads
    decode FOR REAL as RIFF/WAVE PCM (``decode_wav``): window/hop ms map
    to frame counts via the stream's own sample rate (``bytes_per_ms`` is
    ignored) and digests cover decoded PCM frames; other containers raise.
    The fake path windows the raw bytes at ``bytes_per_ms``. Window
    overlap means output bytes exceed input bytes — the kernel streams,
    never materializing a whole partition."""
    win_b = max(int(window_ms * bytes_per_ms), 1)
    hop_b = max(int(hop_ms * bytes_per_ms), 1)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "chunk_idx": [], "start_ms": [],
                   "end_ms": [], "chunk_hash": []}
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if p is None or len(p) == 0:
                    continue
                if fake_decode:
                    for ci, off in enumerate(range(0, len(p), hop_b)):
                        chunk = np.frombuffer(p[off:off + win_b], dtype=np.uint8)
                        if chunk.size == 0:
                            break
                        out["asset_id"].append(aid)
                        out["chunk_idx"].append(ci)
                        out["start_ms"].append(int(off / bytes_per_ms))
                        out["end_ms"].append(int((off + chunk.size) / bytes_per_ms))
                        out["chunk_hash"].append(_hash_u8(chunk))
                    continue
                if sniff_magic(p) != "wav":
                    raise NotImplementedError(
                        f"no {sniff_magic(p)} audio codec in this "
                        "environment; only RIFF/WAVE PCM decodes for real "
                        "— pass fake_decode=True for the stand-in"
                    )
                samples, rate = decode_wav(p)
                win_f = max(rate * window_ms // 1000, 1)
                hop_f = max(rate * hop_ms // 1000, 1)
                for ci, off in enumerate(range(0, len(samples), hop_f)):
                    chunk = samples[off:off + win_f]
                    if chunk.shape[0] == 0:
                        break
                    out["asset_id"].append(aid)
                    out["chunk_idx"].append(ci)
                    out["start_ms"].append(off * 1000 // rate)
                    out["end_ms"].append((off + chunk.shape[0]) * 1000 // rate)
                    out["chunk_hash"].append(_hash_u8(chunk))
            yield pd.DataFrame(out)

    return assets.mapInPandas(kernel, schema=CHUNK_SCHEMA)


def assets_from_documents(
    docs: DataFrame,
    media_type: str = "image",
    image_side: int = 24,
    audio_bytes: int = 4000,
    sample_rate: int = 8000,
) -> DataFrame:
    """Deterministic asset table derived from a documents table (doc_id,
    text): each document's UTF-8 bytes tile into a small grayscale image
    that is PNG-encoded (``media_type="image"``) or reinterpret as 8-bit
    PCM frames that are WAV-encoded (``media_type="audio"``).

    The payloads are REAL containers built map-side in bounded Arrow
    batches, so the real codec path (``extract_features``/``chunk_audio``
    with the fake flag off) decodes them downstream; identical text
    yields identical payloads, so multimodal dedup composes with the
    text-dedup lanes. ``media_type="image"`` emits PNG, ``"gif"`` the
    same tiled image as GIF (LZW lane), ``"audio"`` 8-bit PCM WAV, and
    ``"video"`` an AVI Motion-JPEG stream: one 16x16 gray frame per
    256-byte slice of the text (capped at 8 frames) at 4 fps. This is
    the multimodal analog of the reference deriving its work items from
    the scanned corpus rather than a side-channel fixture."""
    if media_type not in ("image", "gif", "audio", "video"):
        raise ValueError(
            f"media_type {media_type!r} not in image|gif|audio|video"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                b = (text or "").encode("utf-8") or b"\x00"
                arr = np.frombuffer(b, dtype=np.uint8)
                if media_type == "image":
                    img = np.resize(arr, (image_side, image_side))
                    payloads.append(encode_png(img))
                elif media_type == "gif":
                    img = np.resize(arr, (image_side, image_side))
                    payloads.append(encode_gif(img))
                elif media_type == "video":
                    n_frames = min((len(b) + 255) // 256, 8)
                    frames = [
                        np.resize(arr[k * 256:(k + 1) * 256], (16, 16))
                        for k in range(n_frames)
                    ]
                    payloads.append(encode_avi_mjpeg(frames, fps=4.0))
                else:
                    pcm = np.resize(arr, (min(len(b), audio_bytes),))
                    payloads.append(encode_wav(pcm, sample_rate=sample_rate))
            yield pd.DataFrame({
                "asset_id": pdf["doc_id"],
                # GIF is still an image for downstream consumers
                "media_type": "image" if media_type == "gif" else media_type,
                "payload": payloads,
                "source": pdf["source"],
            })

    return docs.select("doc_id", "text", "source").mapInPandas(
        kernel, schema=ASSET_SCHEMA
    )


def synthetic_assets(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake asset table for tests (seeded bytes; a few planted
    byte-identical duplicates and recognizable magic headers)."""
    rng = np.random.default_rng(seed)
    rows = []
    headers = [b"\xff\xd8\xff\xe0", b"\x89PNG\r\n", b"GIF89a", b"RIFF\x00\x00"]
    for i in range(n):
        hdr = headers[i % len(headers)]
        body = rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()
        payload = hdr + body
        rows.append((i, "image", payload, f"src{i % 3}"))
    # planted exact duplicates of asset 0 and 1
    rows.append((n, "image", rows[0][2], "dup"))
    rows.append((n + 1, "image", rows[1][2], "dup"))
    return spark.createDataFrame(rows, ASSET_SCHEMA)
