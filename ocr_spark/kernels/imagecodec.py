"""Pure-Python/numpy image codecs + resize/normalize kernels.

Unstubs the round-1 multimodal codec boundary (VERDICT r01 item 2) without
external libraries:

- PNG: full encode/decode for 8-bit gray/RGB/RGBA/palette, zlib (stdlib)
  inflate + per-row unfilter (None/Sub/Up/Average/Paeth with proper
  bytes-per-pixel offsets). Lossless round trip.
- JPEG: one DECODER for sequential (SOF0/1) and progressive (SOF2)
  frames — DQT/DHT/SOF/SOS/DRI markers, interleaved and single-component
  scans, canonical Huffman, spectral selection + successive
  approximation, dequantize + zigzag + 8x8 IDCT (orthonormal DCT-II
  basis), chroma upsampling (4:4:4 / 4:2:2 / 4:2:0), YCbCr->RGB — and
  baseline (4:4:4 / 4:2:0) and progressive ENCODERS (standard Annex K
  quantization + Huffman tables, quality scaling) used to build test
  fixtures.
- resize_bilinear / resize_pad_image: the reference's resize semantics —
  preserve_aspect_ratio scales by min(out/in) with int truncation, then
  pads after/before/even with pad_value
  (/root/reference/utils/image/image_processing.py:19-142).
- normalize_image: the reference's named normalization schemes ('01',
  'normal', 'tanh', 'east', 'clip', 'easyocr')
  (/root/reference/utils/image/image_normalization.py:16-60).
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np


class CodecError(ValueError):
    pass


# ===========================================================================
# PNG
# ===========================================================================

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(img: np.ndarray) -> bytes:
    """(H, W), (H, W, 3) or (H, W, 4) uint8 -> PNG bytes (filter 0 rows)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color_type, planes = 0, 1
        rows = img[:, :, None]
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, planes = 2, 3
        rows = img
    elif img.ndim == 3 and img.shape[2] == 4:
        color_type, planes = 6, 4
        rows = img
    else:
        raise CodecError(f"unsupported array shape {img.shape}")
    h, w = img.shape[:2]
    raw = bytearray()
    for r in range(h):
        raw.append(0)  # filter None
        raw += rows[r].tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(data: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Per-row unfilter. Sub is a per-lane cumulative sum (vectorized);
    Average/Paeth iterate per PIXEL with vectorized bpp lanes (real-world
    PNGs lean on these filters — a per-byte python loop was ~bpp x slower)."""
    stride = w * bpp
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for r in range(h):
        ftype = data[pos]
        row = np.frombuffer(data[pos + 1 : pos + 1 + stride], dtype=np.uint8).astype(np.int32)
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: per-lane cumsum (mod distributes over +)
            row = np.cumsum(row.reshape(w, bpp), axis=0).reshape(stride) & 0xFF
        elif ftype == 2:  # Up
            row = (row + prev) & 0xFF
        elif ftype == 3:  # Average
            rp = row.reshape(w, bpp)
            pp = prev.reshape(w, bpp)
            left = np.zeros(bpp, dtype=np.int32)
            for i in range(w):
                left = (rp[i] + ((left + pp[i]) >> 1)) & 0xFF
                rp[i] = left
            row = rp.reshape(stride)
        elif ftype == 4:  # Paeth
            rp = row.reshape(w, bpp)
            pp = prev.reshape(w, bpp)
            a = np.zeros(bpp, dtype=np.int32)
            c = np.zeros(bpp, dtype=np.int32)
            for i in range(w):
                b = pp[i]
                p = a + b - c
                pa, pb_, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb_) & (pa <= pc), a, np.where(pb_ <= pc, b, c))
                a = (rp[i] + pred) & 0xFF
                rp[i] = a
                c = b
            row = rp.reshape(stride)
        else:
            raise CodecError(f"bad PNG filter {ftype}")
        out[r] = row.astype(np.uint8)
        prev = row
    return out


def png_decode(blob: bytes) -> np.ndarray:
    """PNG bytes -> (H, W) or (H, W, C) uint8. 8-bit depth, no interlace."""
    if not blob.startswith(_PNG_SIG):
        raise CodecError("not a PNG")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = 0
    idat = bytearray()
    palette = None
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        payload = blob[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            if len(payload) != 13:
                raise CodecError("truncated IHDR")
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
        elif tag == b"PLTE":
            if len(payload) % 3:
                raise CodecError("truncated PLTE")
            palette = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if width is None:
        raise CodecError("no IHDR")
    if bit_depth != 8:
        raise CodecError(f"unsupported bit depth {bit_depth}")
    if interlace:
        raise CodecError("Adam7 interlace not supported")
    planes = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if planes is None:
        raise CodecError(f"unsupported color type {color_type}")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as ex:
        raise CodecError(f"truncated or corrupt IDAT: {ex}") from ex
    if len(raw) < height * (1 + width * planes):
        raise CodecError("truncated IDAT")
    arr = _png_unfilter(raw, width, height, planes)
    if color_type == 3:
        if palette is None:
            raise CodecError("palette image without PLTE")
        if arr.max(initial=0) >= len(palette):
            raise CodecError("palette index out of range")
        return palette[arr.reshape(height, width)]
    if planes == 1:
        return arr.reshape(height, width)
    return arr.reshape(height, width, planes)


def png_dimensions(blob: bytes) -> tuple[int, int]:
    """(height, width) from the fixed-offset IHDR — no decode."""
    if not blob.startswith(_PNG_SIG) or blob[12:16] != b"IHDR" or len(blob) < 24:
        raise CodecError("not a PNG")
    w, h = struct.unpack(">II", blob[16:24])
    return h, w


def jpeg_dimensions(blob: bytes) -> tuple[int, int]:
    """(height, width) from the SOF marker — a marker scan, no decode."""
    if blob[:2] != b"\xff\xd8":
        raise CodecError("not a JPEG")
    pos = 2
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            pos += 1
            continue
        marker = blob[pos + 1]
        if marker in (0xD8,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
            if pos + 9 > len(blob):
                raise CodecError("truncated SOF")
            h, w = struct.unpack(">HH", blob[pos + 5 : pos + 9])
            return h, w
        pos += 2 + seg_len
    raise CodecError("no SOF marker")


# ===========================================================================
# JPEG (baseline and progressive)
# ===========================================================================

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# standard Annex K quantization tables (quality 50 base)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
])
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
])

# standard Annex K Huffman tables: (bits[1..16], values)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix A: F = A @ f @ A.T, f = A.T @ F @ A."""
    a = np.zeros((8, 8))
    for u in range(8):
        cu = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            a[u, x] = cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_A = _dct_basis()


def _build_huffman_decode(bits, values):
    """Canonical codes -> {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_huffman_encode(bits, values):
    dec = _build_huffman_decode(bits, values)
    return {sym: (length, code) for (length, code), sym in dec.items()}


_PEEK_CACHE: dict = {}


def _build_peek_table(bits, values) -> list[int]:
    """Canonical Huffman -> 65536-entry table: entry = (code_len << 8) | sym
    for every 16-bit window starting with that code; 0 marks invalid.
    Returned (and cached) as a python LIST: the scan decoder indexes it
    per symbol, where numpy scalar indexing boxes each access — and every
    scan snapshots its tables, so converting at use sites repeated the
    65536-entry copy per scan."""
    key = (tuple(bits), tuple(values))
    cached = _PEEK_CACHE.get(key)
    if cached is not None:
        return cached
    table = np.zeros(1 << 16, dtype=np.uint16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            table[lo:hi] = (length << 8) | values[k]
            code += 1
            k += 1
        code <<= 1
    out = table.tolist()
    _PEEK_CACHE[key] = out
    return out


_RST_MARKER = re.compile(b"\xff[\xd0-\xd7]")


def _destuff_segments(data: bytes) -> list[bytes]:
    """One scan's entropy bytes (already cut at its end marker by
    _entropy_end) -> one segment per restart interval, 0xFF00 unstuffed.
    Every other 0xFF in the slice is stuffing or fill, so the split cannot
    match inside a stuffed pair."""
    return [s.replace(b"\xff\x00", b"\xff") for s in _RST_MARKER.split(data)]


def _seg_windows(seg: bytes) -> tuple[list[int], int]:
    """Destuffed entropy segment -> (u32 window list, bit limit).

    ``u32[i]`` holds bytes i..i+3 big-endian, so the 16-bit Huffman peek
    at bit position bp is ``(u32[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF``
    — one list index + two int ops, all LOCAL in the decode loop (the
    previous per-symbol method-call reader was the top tottime line of
    the whole extraction profile). The 256-byte zero pad keeps every
    intra-block read in bounds; the limit (+8 bits of legal final
    padding) is enforced once per block — the zero padding would
    otherwise decode as valid Huffman symbols forever on truncated
    scans, and the block loop is bounded so the per-block check cannot
    hang."""
    arr = np.frombuffer(seg + b"\x00" * 256, dtype=np.uint8).astype(np.uint32)
    u32 = ((arr[:-3] << 24) | (arr[1:-2] << 16) | (arr[2:-1] << 8) | arr[3:]).tolist()
    return u32, len(seg) * 8 + 8


def _entropy_end(blob: bytes, start: int) -> int:
    """First byte offset at/after `start` holding a REAL marker (not byte
    stuffing 0xFF00, not RST0-7, not 0xFF fill) — the end of one scan's
    entropy-coded data."""
    i, n = start, len(blob)
    while True:
        j = blob.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            return n
        m = blob[j + 1]
        if m == 0xFF:  # fill byte
            i = j + 1
        elif m == 0x00 or 0xD0 <= m <= 0xD7:
            i = j + 2
        else:
            return j


def jpeg_decode(blob: bytes) -> np.ndarray:
    """Baseline (SOF0/1) or progressive (SOF2) JPEG bytes -> (H, W, 3)
    or (H, W) uint8.

    One marker walk records every scan up to EOI (DHT/DRI may change
    between scans, so each scan snapshots its tables); one scan decoder
    fills per-component zigzag coefficient rows; one dequantize +
    batched IDCT per component turns them into planes."""
    if blob[:2] != b"\xff\xd8":
        raise CodecError("not a JPEG")
    pos = 2
    qt = {}
    huff_dc, huff_ac = {}, {}
    comps = None
    progressive = False
    h_img = w_img = 0
    restart_interval = 0
    scans: list[dict] = []
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            pos += 1
            continue
        marker = blob[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xD8 or (0xD0 <= marker <= 0xD7):
            pos += 2
            continue
        (seg_len,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        payload = blob[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                size = 128 if pq else 64
                raw = payload[p + 1 : p + 1 + size]
                if len(raw) != size:
                    raise CodecError("truncated DQT")
                qt[tq] = np.frombuffer(raw, dtype=">u2" if pq else np.uint8).astype(np.int32)
                p += 1 + size
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            if len(payload) < 6 or len(payload) < 6 + 3 * payload[5]:
                raise CodecError("truncated SOF")
            progressive = marker == 0xC2
            h_img, w_img = struct.unpack(">HH", payload[1:5])
            comps = []
            for i in range(payload[5]):
                cid, samp, tq = payload[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0xF, "tq": tq})
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                values = list(payload[p + 17 : p + 17 + n])
                if len(bits) < 16 or len(values) < n:
                    raise CodecError("truncated DHT")
                table = _build_peek_table(bits, values)
                (huff_dc if tc == 0 else huff_ac)[th] = table
                p += 17 + n
        elif marker == 0xDD:  # DRI
            if len(payload) < 2:
                raise CodecError("truncated DRI")
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:  # SOS
            n_sc = payload[0] if payload else 0
            if not 1 <= n_sc <= 4 or len(payload) < 4 + 2 * n_sc:
                raise CodecError("bad SOS header")
            specs = payload[1 : 1 + 2 * n_sc]  # (component id, Td << 4 | Ta) pairs
            ss, se, ahal = payload[1 + 2 * n_sc : 4 + 2 * n_sc]
            start = pos + 2 + seg_len
            end = _entropy_end(blob, start)
            scans.append(
                {
                    "comps": [
                        (cid, huff_dc.get(tabs >> 4), huff_ac.get(tabs & 0xF))
                        for cid, tabs in zip(specs[::2], specs[1::2])
                    ],
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0xF,
                    "dri": restart_interval,
                    "data": blob[start:end],
                }
            )
            pos = end
            continue
        pos += 2 + seg_len
    if comps is None or not scans:
        raise CodecError("missing SOF/SOS")
    # sanity cap: a corrupt header claiming huge dimensions must not turn
    # into a multi-GB allocation + a 56M-iteration python loop (one bad
    # blob would stall the whole Spark task far beyond any except-guard)
    if h_img * w_img > 64_000_000 or h_img == 0 or w_img == 0:
        raise CodecError(f"implausible dimensions {w_img}x{h_img}")
    # the tail assembles one plane (gray) or the first three (YCbCr)
    if not comps or len(comps) == 2:
        raise CodecError(f"unsupported component count {len(comps)}")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if len({c["id"] for c in comps}) < len(comps) or any(
        not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4) or hmax % c["h"] or vmax % c["v"]
        for c in comps
    ):
        raise CodecError("unsupported component ids or sampling factors")
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))
    for c in comps:
        # interleaved scans cover the MCU grid (gh x gw blocks); a
        # single-component scan covers only the component's own extent
        # (bh x bw blocks, A.2.2)
        c["gh"], c["gw"] = mcuy * c["v"], mcux * c["h"]
        c["bh"] = -(-h_img * c["v"] // (8 * vmax))
        c["bw"] = -(-w_img * c["h"] // (8 * hmax))
    # every block of every component is coded at least once by a DC code
    # of one bit or more: a header declaring more blocks than the scans
    # hold bits is rejected before the coefficient rows are allocated
    n_blocks = sum(c["bh"] * c["bw"] for c in comps)
    n_bits = 8 * sum(len(s["data"]) for s in scans)
    if n_blocks > n_bits:
        raise CodecError(
            f"{w_img}x{h_img} frame declares {n_blocks} blocks but its scans hold {n_bits} bits"
        )
    coef = _decode_scans(scans, comps, mcuy, mcux, progressive)

    planes = {}
    for c in comps:
        if c["tq"] not in qt:
            raise CodecError("missing quantization table")
        gh, gw = c["gh"], c["gw"]
        zz = np.asarray(coef[c["id"]], dtype=np.float64) * qt[c["tq"]]
        blocks = np.empty_like(zz)
        blocks[:, _ZIGZAG] = zz
        spatial = _A.T @ blocks.reshape(-1, 8, 8) @ _A + 128.0
        planes[c["id"]] = (
            spatial.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)
        )
    return _assemble_planes(planes, comps, h_img, w_img, hmax, vmax)


def _assemble_planes(planes, comps, h_img, w_img, hmax, vmax) -> np.ndarray:
    """Decode tail: chroma upsample, crop to image dims, YCbCr -> RGB
    (ITU-R BT.601, the JFIF matrix)."""
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        if c["h"] < hmax or c["v"] < vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out_planes.append(p[:h_img, :w_img])
    if len(out_planes) == 1:
        return np.clip(out_planes[0].round(), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes[:3]
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(rgb.round(), 0, 255).astype(np.uint8)


def _decode_scans(scans, comps, mcuy, mcux, progressive) -> dict:
    """Every scan of the frame -> {component id: gh*gw zigzag coefficient
    rows}, blocks in raster order.

    A sequential scan is a DC-first pass and then an AC-first pass over
    band 1..63 at Al=0, block by block. Progressive scans fill spectral
    bands (DC or one AC band) and bits: first passes store value << Al,
    refinements add 1 << Al (G.1.2). Interleaved scans walk MCUs;
    single-component scans walk the component's own block grid.

    The per-block helpers keep the bit reader inlined with local ints
    (u32 16-bit peek windows, bp bit cursor): per-symbol method calls on
    a reader object dominated the decode."""
    by_id = {c["id"]: c for c in comps}
    # python nested lists: the per-coefficient writes are pure int work,
    # and numpy scalar writes box every access
    coef = {c["id"]: [[0] * 64 for _ in range(c["gh"] * c["gw"])] for c in comps}
    for scan in scans:
        if any(cid not in by_id for cid, _, _ in scan["comps"]):
            raise CodecError("scan references unknown component")
        if progressive:
            ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
            if ss == 0 and se != 0:
                raise CodecError("bad progressive DC scan band")
            if ss > se or se > 63:
                raise CodecError("bad progressive AC scan band")
            if ss and len(scan["comps"]) != 1:
                raise CodecError("interleaved progressive AC scan")
        else:
            ss, se, ah, al = 0, 63, 0, 0
        for _, dcl, acl in scan["comps"]:
            if ss == 0 and ah == 0 and dcl is None:
                raise CodecError("missing DC table")
            if se and acl is None:
                raise CodecError("missing AC table")
        dcls = [dcl for _, dcl, _ in scan["comps"]]
        acls = [acl for _, _, acl in scan["comps"]]
        if len(scan["comps"]) == 1:
            c = by_id[scan["comps"][0][0]]
            rows, gw = coef[c["id"]], c["gw"]
            units = [[(0, rows[by * gw + bx])] for by in range(c["bh"]) for bx in range(c["bw"])]
        else:
            mcu = []  # (scan component, block row, block col) within one MCU
            for i, (cid, _, _) in enumerate(scan["comps"]):
                c = by_id[cid]
                mcu += [(i, c, by, bx) for by in range(c["v"]) for bx in range(c["h"])]
            units = [
                [
                    (i, coef[c["id"]][(my * c["v"] + by) * c["gw"] + mx * c["h"] + bx])
                    for i, c, by, bx in mcu
                ]
                for my in range(mcuy)
                for mx in range(mcux)
            ]

        dri = scan["dri"]
        segments = _destuff_segments(scan["data"])
        seg_idx = 0
        u32, limit = _seg_windows(segments[0])
        bp = eobrun = 0
        preds = [0] * len(dcls)
        k0 = ss or 1
        for n_unit, unit in enumerate(units):
            if dri and n_unit and n_unit % dri == 0:
                seg_idx += 1
                u32, limit = _seg_windows(
                    segments[seg_idx] if seg_idx < len(segments) else b""
                )
                bp = eobrun = 0
                preds = [0] * len(dcls)
            for i, row in unit:
                if ss == 0:
                    if ah == 0:
                        bp, diff = _dc_first(u32, bp, dcls[i])
                        preds[i] += diff
                        row[0] = preds[i] << al
                    else:  # DC refinement: one raw bit
                        if (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> 15:
                            row[0] |= 1 << al
                        bp += 1
                if se:
                    if ah:
                        bp, eobrun = _ac_refine(u32, bp, acls[i], row, k0, se, al, eobrun)
                    elif eobrun:
                        eobrun -= 1
                    else:
                        bp, eobrun = _ac_first(u32, bp, acls[i], row, k0, se, al)
                if bp > limit:
                    raise CodecError("truncated entropy data")
    return coef


def _dc_first(u32, bp, dcl) -> tuple[int, int]:
    """One DC difference (F.2.2.1): a Huffman category, then that many
    raw bits. Returns (bit cursor, difference)."""
    p = (u32[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF
    e = dcl[p]
    if e == 0:
        raise CodecError("bad Huffman code")
    length = e >> 8
    n = e & 0xFF  # DC symbol IS the extra-bit count
    if n == 0:
        return bp + length, 0
    if length + n <= 16:
        raw = (p >> (16 - length - n)) & ((1 << n) - 1)
    else:
        if n > 16:
            raise CodecError("bad DC magnitude")
        bp += length
        length = 0
        raw = (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> (16 - n)
    return bp + length + n, raw if raw >> (n - 1) else raw - (1 << n) + 1


def _ac_first(u32, bp, acl, row, k, se, al) -> tuple[int, int]:
    """Band k..se of one block, first pass (G.1.2.2). Returns (bit
    cursor, blocks left in the EOB run this block started)."""
    while k <= se:
        p = (u32[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF
        e = acl[p]
        if e == 0:
            raise CodecError("bad Huffman code")
        length = e >> 8
        rs = e & 0xFF
        s = rs & 15
        if s:
            k += rs >> 4
            if length + s <= 16:
                raw = (p >> (16 - length - s)) & ((1 << s) - 1)
                bp += length + s
            else:
                bp += length
                raw = (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> (16 - s)
                bp += s
            if k > se:  # corrupt run; bits consumed
                break
            row[k] = (raw if raw >> (s - 1) else raw - (1 << s) + 1) << al
            k += 1
        elif rs == 0xF0:  # ZRL
            bp += length
            k += 16
        else:  # EOBn
            bp += length
            r = rs >> 4
            eobrun = (1 << r) - 1
            if r:
                eobrun += (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> (16 - r)
                bp += r
            return bp, eobrun
    return bp, 0


def _ac_refine(u32, bp, acl, row, k, se, al, eobrun) -> tuple[int, int]:
    """Band k..se of one block, refinement pass (G.1.2.3 / libjpeg
    decode_mcu_AC_refine). Returns (bit cursor, EOB run left)."""
    p1 = 1 << al
    m1 = -1 << al
    if eobrun == 0:
        while k <= se:
            p = (u32[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF
            e = acl[p]
            if e == 0:
                raise CodecError("bad Huffman code")
            bp += e >> 8
            rs = e & 0xFF
            r, s = rs >> 4, rs & 15
            val = 0
            if s:
                val = p1 if (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> 15 else m1
                bp += 1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> (16 - r)
                    bp += r
                break
            while k <= se:
                c = row[k]
                if c:
                    b = (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> 15
                    bp += 1
                    if b and not (c & p1):
                        row[k] = c + (p1 if c > 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                row[k] = val
            k += 1
    if eobrun:
        while k <= se:
            c = row[k]
            if c:
                b = (u32[bp >> 3] >> (16 - (bp & 7)) & 0xFFFF) >> 15
                bp += 1
                if b and not (c & p1):
                    row[k] = c + (p1 if c > 0 else m1)
            k += 1
        eobrun -= 1
    return bp, eobrun


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, length: int, code: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nacc += length
        while self.nacc >= 8:
            self.nacc -= 8
            b = (self.acc >> self.nacc) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nacc:
            pad = 8 - self.nacc
            self.write(pad, (1 << pad) - 1)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * s + 50) // 100, 1, 255).astype(np.int32)


def _cat(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(writer, block, q, enc_dc_t, enc_ac_t, pred: int) -> int:
    """Forward-DCT, quantize, and Huffman-emit ONE 8x8 block (level-
    shifted input); returns the new DC predictor. Factored so the 4:2:0
    MCU walk and the 4:4:4 walk share bit-exact emission."""
    coef = _A @ block @ _A.T
    zz = coef.reshape(-1)[_ZIGZAG]
    quant = np.round(zz / q).astype(np.int64)
    dc = int(quant[0])
    diff = dc - pred
    cat = _cat(diff)
    length, code = enc_dc_t[cat]
    writer.write(length, code)
    if cat:
        writer.write(cat, diff if diff >= 0 else diff + (1 << cat) - 1)
    run = 0
    for k in range(1, 64):
        v = int(quant[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = enc_ac_t[0xF0]
            writer.write(length, code)
            run -= 16
        cat = _cat(v)
        length, code = enc_ac_t[(run << 4) | cat]
        writer.write(length, code)
        writer.write(cat, v if v >= 0 else v + (1 << cat) - 1)
        run = 0
    if run:
        length, code = enc_ac_t[0x00]  # EOB
        writer.write(length, code)
    return dc


def jpeg_encode(
    img: np.ndarray, quality: int = 85, subsampling: str = "444"
) -> bytes:
    """(H, W, 3) or (H, W) uint8 -> baseline JPEG (Annex K tables).

    subsampling="444" (default, byte-stable with prior releases) keeps
    full-resolution chroma; "420" emits the dominant real-web layout —
    Y sampled 2x2 per MCU, Cb/Cr 2x2-mean-downsampled, 16x16-pixel MCUs
    interleaved Y0..Y3 Cb Cr."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    sub420 = subsampling == "420" and not gray
    if sub420:
        return _jpeg_encode_420(img, quality)
    if gray:
        planes = [img.astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]

    # quality-scale the NATURAL-order Annex K tables, then keep them in
    # ZIGZAG order: the DQT segment is zigzag-serialized per the spec, and
    # the quantization below divides zigzag-ordered coefficients — a
    # natural-order table there shuffles the frequency weighting (and makes
    # the emitted file lie to spec-conforming decoders)
    q_luma = _quality_scale(_QT_LUMA, quality)[_ZIGZAG]
    q_chroma = _quality_scale(_QT_CHROMA, quality)[_ZIGZAG]
    enc_dc = [_build_huffman_encode(*_DC_LUMA), _build_huffman_encode(*_DC_CHROMA)]
    enc_ac = [_build_huffman_encode(*_AC_LUMA), _build_huffman_encode(*_AC_CHROMA)]

    out = bytearray(b"\xff\xd8")
    # DQT
    for tq, tbl in enumerate([q_luma] + ([q_chroma] if not gray else [])):
        payload = bytes([tq]) + bytes(int(tbl[i]) for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", len(payload) + 2) + payload
    # SOF0
    n_comp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([n_comp])
    for i in range(n_comp):
        sof += bytes([i + 1, 0x11, 0 if i == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    # DHT
    for tc, tables in ((0, [_DC_LUMA, _DC_CHROMA]), (1, [_AC_LUMA, _AC_CHROMA])):
        for th, (bits, values) in enumerate(tables[: (1 if gray else 2)]):
            payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
            out += b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload
    # SOS
    sos = bytes([n_comp])
    for i in range(n_comp):
        t = 0 if i == 0 else 1
        sos += bytes([i + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    writer = _BitWriter()
    pad_h, pad_w = -h % 8, -w % 8
    dc_pred = [0] * n_comp
    padded = [np.pad(p, ((0, pad_h), (0, pad_w)), mode="edge") for p in planes]
    for my in range(0, h + pad_h, 8):
        for mx in range(0, w + pad_w, 8):
            for ci in range(n_comp):
                t = 0 if ci == 0 else 1
                q = q_luma if ci == 0 else q_chroma
                block = padded[ci][my : my + 8, mx : mx + 8] - 128.0
                dc_pred[ci] = _encode_block(
                    writer, block, q, enc_dc[t], enc_ac[t], dc_pred[ci]
                )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_encode_420(img: np.ndarray, quality: int) -> bytes:
    """4:2:0 baseline: Y at (2,2) sampling, chroma 2x2-mean-downsampled,
    16x16-pixel MCUs emitted Y0 Y1 Y2 Y3 Cb Cr."""
    h, w = img.shape[:2]
    pad_h, pad_w = -h % 16, -w % 16
    rgb = np.pad(
        img.astype(np.float64), ((0, pad_h), (0, pad_w), (0, 0)), mode="edge"
    )
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    ph, pw = y.shape
    cbd = cb.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    crd = cr.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))

    q_luma = _quality_scale(_QT_LUMA, quality)[_ZIGZAG]
    q_chroma = _quality_scale(_QT_CHROMA, quality)[_ZIGZAG]
    enc_dc = [_build_huffman_encode(*_DC_LUMA), _build_huffman_encode(*_DC_CHROMA)]
    enc_ac = [_build_huffman_encode(*_AC_LUMA), _build_huffman_encode(*_AC_CHROMA)]

    out = bytearray(b"\xff\xd8")
    for tq, tbl in enumerate([q_luma, q_chroma]):
        payload = bytes([tq]) + bytes(int(tbl[i]) for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", len(payload) + 2) + payload
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
    sof += bytes([1, 0x22, 0])  # Y: h=v=2
    sof += bytes([2, 0x11, 1])  # Cb
    sof += bytes([3, 0x11, 1])  # Cr
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    for tc, tables in ((0, [_DC_LUMA, _DC_CHROMA]), (1, [_AC_LUMA, _AC_CHROMA])):
        for th, (bits, values) in enumerate(tables):
            payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
            out += b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    writer = _BitWriter()
    preds = [0, 0, 0]
    for my in range(0, ph, 16):
        for mx in range(0, pw, 16):
            for by in (0, 8):
                for bx in (0, 8):
                    blk = y[my + by : my + by + 8, mx + bx : mx + bx + 8] - 128.0
                    preds[0] = _encode_block(
                        writer, blk, q_luma, enc_dc[0], enc_ac[0], preds[0]
                    )
            cy, cx = my // 2, mx // 2
            for ci, plane in ((1, cbd), (2, crd)):
                blk = plane[cy : cy + 8, cx : cx + 8] - 128.0
                preds[ci] = _encode_block(
                    writer, blk, q_chroma, enc_dc[1], enc_ac[1], preds[ci]
                )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def _quant_grids(img: np.ndarray, quality: int):
    """Shared progressive-encode front end: color transform, batched
    forward DCT, zigzag gather, quantize. Returns (gray, h, w, grids,
    q_tables) with grids[i] an int64 (bh, bw, 64) zigzag-coefficient
    array — identical math to the baseline encoder's per-block loop, so
    a progressive re-encode of the same image reconstructs the SAME
    coefficients (the round-trip equality test leans on this)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    q_luma = _quality_scale(_QT_LUMA, quality)[_ZIGZAG]
    q_chroma = _quality_scale(_QT_CHROMA, quality)[_ZIGZAG]
    pad_h, pad_w = -h % 8, -w % 8
    grids = []
    for ci, p in enumerate(planes):
        q = q_luma if ci == 0 else q_chroma
        pp = np.pad(p, ((0, pad_h), (0, pad_w)), mode="edge") - 128.0
        bh, bw = pp.shape[0] // 8, pp.shape[1] // 8
        blocks = pp.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        coef = np.einsum("ij,njk,kl->nil", _A, blocks, _A.T)
        zz = coef.reshape(-1, 64)[:, _ZIGZAG]
        grids.append(np.round(zz / q).astype(np.int64).reshape(bh, bw, 64))
    return gray, h, w, grids, (q_luma, q_chroma)


def jpeg_encode_progressive(img: np.ndarray, quality: int = 85) -> bytes:
    """(H, W, 3) or (H, W) uint8 -> PROGRESSIVE JPEG (SOF2, 4:4:4,
    Annex K tables), the libjpeg-style script: interleaved DC first pass
    at Al=1, DC refinement, per-component AC spectral bands 1-5 and 6-63
    at Al=1, then per-component AC refinement (Ah=1, Al=0) with
    position-ordered correction bits (G.1.2.3). EOB runs are emitted as
    EOB0 only — the Annex K AC tables define no EOBn>0 symbols; decoder
    EOBRUN>1 handling is pinned by a handcrafted-table fixture in
    tests."""
    gray, h, w, grids, _q = _quant_grids(img, quality)
    n_comp = 1 if gray else 3
    enc_dc = [_build_huffman_encode(*_DC_LUMA), _build_huffman_encode(*_DC_CHROMA)]
    enc_ac = [_build_huffman_encode(*_AC_LUMA), _build_huffman_encode(*_AC_CHROMA)]
    q_luma = _quality_scale(_QT_LUMA, quality)[_ZIGZAG]
    q_chroma = _quality_scale(_QT_CHROMA, quality)[_ZIGZAG]

    out = bytearray(b"\xff\xd8")
    for tq, tbl in enumerate([q_luma] + ([q_chroma] if not gray else [])):
        payload = bytes([tq]) + bytes(int(tbl[i]) for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", len(payload) + 2) + payload
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([n_comp])
    for i in range(n_comp):
        sof += bytes([i + 1, 0x11, 0 if i == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    for tc, tables in ((0, [_DC_LUMA, _DC_CHROMA]), (1, [_AC_LUMA, _AC_CHROMA])):
        for th, (bits, values) in enumerate(tables[: (1 if gray else 2)]):
            payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)
            out += b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload

    def sos_header(comp_specs, ss, se, ah, al):
        sos = bytes([len(comp_specs)])
        for cid, tdc, tac in comp_specs:
            sos += bytes([cid, (tdc << 4) | tac])
        sos += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    def put_signed(writer, table, runsize_prefix, value):
        """run/size symbol + the value bits of a signed coefficient."""
        cat = _cat(value)
        length, code = table[(runsize_prefix << 4) | cat]
        writer.write(length, code)
        if cat:
            writer.write(cat, value if value >= 0 else value + (1 << cat) - 1)

    # --- scan 1: DC first, Al=1, interleaved -----------------------------
    out += sos_header([(i + 1, 0 if i == 0 else 1, 0) for i in range(n_comp)], 0, 0, 0, 1)
    wtr = _BitWriter()
    bh, bw = grids[0].shape[:2]
    dc_pred = [0] * n_comp
    for by in range(bh):
        for bx in range(bw):
            for ci in range(n_comp):
                t = 0 if ci == 0 else 1
                dc = int(grids[ci][by, bx, 0]) >> 1  # arithmetic shift (Al=1)
                diff = dc - dc_pred[ci]
                dc_pred[ci] = dc
                put_signed(wtr, enc_dc[t], 0, diff)
    wtr.flush()
    out += wtr.out

    # --- scan 2: DC refinement, Ah=1 Al=0 (one raw bit per block) --------
    out += sos_header([(i + 1, 0, 0) for i in range(n_comp)], 0, 0, 1, 0)
    wtr = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            for ci in range(n_comp):
                wtr.write(1, int(grids[ci][by, bx, 0]) & 1)
    wtr.flush()
    out += wtr.out

    # --- AC spectral bands, first pass at Al=1, one component per scan ---
    for ss, se in ((1, 5), (6, 63)):
        for ci in range(n_comp):
            t = 0 if ci == 0 else 1
            out += sos_header([(ci + 1, 0, t)], ss, se, 0, 1)
            wtr = _BitWriter()
            for by in range(bh):
                for bx in range(bw):
                    row = grids[ci][by, bx]
                    run = 0
                    for k in range(ss, se + 1):
                        v = int(row[k])
                        tshift = (v if v >= 0 else -v) >> 1
                        if tshift == 0:
                            run += 1
                            continue
                        while run > 15:
                            length, code = enc_ac[t][0xF0]
                            wtr.write(length, code)
                            run -= 16
                        put_signed(
                            wtr, enc_ac[t], run, tshift if v >= 0 else -tshift
                        )
                        run = 0
                    if run:
                        length, code = enc_ac[t][0x00]  # EOB0
                        wtr.write(length, code)
            wtr.flush()
            out += wtr.out

    # --- AC refinement, Ah=1 Al=0, one component per scan ----------------
    for ci in range(n_comp):
        t = 0 if ci == 0 else 1
        out += sos_header([(ci + 1, 0, t)], 1, 63, 1, 0)
        wtr = _BitWriter()
        for by in range(bh):
            for bx in range(bw):
                row = grids[ci][by, bx]
                # libjpeg encode_mcu_AC_refine discipline: the zero run
                # counts ONLY zero-history positions; already-significant
                # coefs buffer a correction bit without breaking the run;
                # ZRLs are emitted on reaching ANY nonzero coef (so
                # buffered bits never straddle a ZRL's 16-zero walk) and
                # only while a newly-significant coef still follows
                # (k <= last_new) — trailing runs fold into the EOB.
                last_new = 0
                for k in range(1, 64):
                    if abs(int(row[k])) == 1:
                        last_new = k
                run = 0
                pending: list[int] = []
                for k in range(1, 64):
                    v = int(row[k])
                    a = v if v >= 0 else -v
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and k <= last_new:
                        length, code = enc_ac[t][0xF0]
                        wtr.write(length, code)
                        run -= 16
                        for b in pending:
                            wtr.write(1, b)
                        pending = []
                    if a > 1:  # already significant: correction bit
                        pending.append(a & 1)
                        continue
                    # newly significant (|v| == 1): run/1 + sign + bits
                    length, code = enc_ac[t][(run << 4) | 1]
                    wtr.write(length, code)
                    wtr.write(1, 1 if v > 0 else 0)
                    for b in pending:
                        wtr.write(1, b)
                    pending = []
                    run = 0
                if run or pending:
                    length, code = enc_ac[t][0x00]  # EOB0
                    wtr.write(length, code)
                    for b in pending:
                        wtr.write(1, b)
        wtr.flush()
        out += wtr.out

    out += b"\xff\xd9"
    return bytes(out)


# ===========================================================================
# resize / pad / normalize (reference semantics)
# ===========================================================================

def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Half-pixel-aligned bilinear resample -> float64 (H', W', C)."""
    img = np.asarray(img, dtype=np.float64)
    if img.ndim == 2:
        img = img[:, :, None]
    src_h, src_w = img.shape[:2]
    ys = (np.arange(out_h) + 0.5) * src_h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * src_w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, src_h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, src_w - 1)
    y1 = np.clip(y0 + 1, 0, src_h - 1)
    x1 = np.clip(x0 + 1, 0, src_w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    top = img[y0][:, x0] * (1 - wx) + img[y0][:, x1] * wx
    bot = img[y1][:, x0] * (1 - wx) + img[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


def resize_pad_image(
    img: np.ndarray,
    size: tuple[int, int],
    *,
    preserve_aspect_ratio: bool = True,
    pad_value: float = 0.0,
    pad_mode: str = "after",
) -> np.ndarray:
    """The reference resize contract (image_processing.py:19-142): with
    aspect preserved, scale by ratio = min(out/in) with int truncation,
    bilinear-resample, then pad to ``size`` (after/before/even)."""
    img = np.asarray(img, dtype=np.float64)
    if img.ndim == 2:
        img = img[:, :, None]
    out_h, out_w = size
    if preserve_aspect_ratio:
        src = np.array(img.shape[:2], dtype=np.float64)
        ratio = float(np.min(np.array([out_h, out_w]) / src))
        mid_h, mid_w = int(src[0] * ratio), int(src[1] * ratio)
    else:
        mid_h, mid_w = out_h, out_w
    resized = resize_bilinear(img, max(mid_h, 1), max(mid_w, 1))
    pad_h, pad_w = max(0, out_h - resized.shape[0]), max(0, out_w - resized.shape[1])
    if pad_h or pad_w:
        if pad_mode == "before":
            padding = ((pad_h, 0), (pad_w, 0), (0, 0))
        elif pad_mode == "after":
            padding = ((0, pad_h), (0, pad_w), (0, 0))
        elif pad_mode == "even":
            padding = (
                (pad_h // 2, pad_h - pad_h // 2),
                (pad_w // 2, pad_w - pad_w // 2),
                (0, 0),
            )
        else:
            raise ValueError(f"unknown pad mode {pad_mode}")
        resized = np.pad(resized, padding, constant_values=pad_value)
    return resized


_CLIP_MEANS = np.array([0.48145466, 0.4578275, 0.40821073])
_CLIP_STD = np.array([0.26862954, 0.26130258, 0.27577711])


def normalize_image(img: np.ndarray, scheme: str = "east") -> np.ndarray:
    """Named normalization schemes (image_normalization.py:16-60); input is
    float in [0, 1] for mean/std schemes (the reference normalizes after
    a /255 cast)."""
    img = np.asarray(img, dtype=np.float64)
    if scheme == "01":
        img = img - img.min()
        return img / max(1e-3, img.max())
    if scheme == "normal":
        std = img.std()
        return (img - img.mean()) / std if std > 0 else np.zeros_like(img)
    if scheme == "tanh":
        return img * 2.0 - 1.0
    if scheme == "east" or scheme == "easyocr":
        return (img - 0.5) / 0.5
    if scheme == "clip":
        return (img - _CLIP_MEANS) / _CLIP_STD
    raise ValueError(f"unknown normalization scheme {scheme}")


# ===========================================================================
# GIF (87a/89a)
# ===========================================================================
#
# Completes S1 parity with the reference's load_image, whose PIL route
# accepts GIF frames (/root/reference/utils/image/image_io.py:68-137).
# Pure-Python LZW both ways:
#
# - decode: header + logical screen descriptor, global/local color tables,
#   extension-block skip (graphic control/comment/application), FIRST image
#   descriptor -> variable-width LSB-first LZW with clear/EOI codes and the
#   KwKwK case, optional 4-pass interlace reorder, palette -> (H, W, 3).
# - encode: GIF89a with a global color table built from the image's unique
#   colors (<= 256), single non-interlaced frame, LZW with dictionary reset
#   at 4096 entries. Lossless round trip for palette-sized images.

_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_dimensions(blob: bytes) -> tuple[int, int]:
    """(height, width) from the logical screen descriptor — a 10-byte
    header probe, same metadata-never-pays-decode stance as
    png_dimensions/jpeg_dimensions."""
    if blob[:6] not in (b"GIF87a", b"GIF89a") or len(blob) < 10:
        raise CodecError("not a GIF")
    w, h = struct.unpack("<HH", blob[6:10])
    return h, w


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # dict entries are (prefix_code, last_byte); roots decode to themselves
    prefix = [-1] * 4096
    suffix = [0] * 4096
    for i in range(clear):
        suffix[i] = i
    next_code = eoi + 1
    code_size = min_code_size + 1
    acc = 0
    nbits = 0
    prev = -1
    stack = bytearray()
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                next_code = eoi + 1
                code_size = min_code_size + 1
                prev = -1
                continue
            if code == eoi:
                return out
            if prev < 0:  # first code after clear MUST be a root
                if code >= clear:
                    raise CodecError("corrupt GIF LZW stream: non-root after clear")
                out.append(suffix[code])
                prev = code
                continue
            # expand `code` (KwKwK: code == next_code uses prev + its head)
            stack.clear()
            c = code
            if code >= next_code:
                if code > next_code:
                    raise CodecError("corrupt GIF LZW stream")
                c = prev
            while c >= clear:
                if len(stack) > 4096:  # corrupt chain (cycle) guard
                    raise CodecError("corrupt GIF LZW stream: prefix cycle")
                stack.append(suffix[c])
                c = prefix[c]
            first = suffix[c]
            stack.append(first)
            if code >= next_code:
                stack.insert(0, first)
            out.extend(reversed(stack))
            if next_code < 4096:
                prefix[next_code] = prev
                suffix[next_code] = first
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = code
            if len(out) >= n_pixels:
                return out
    return out


def gif_decode(blob: bytes) -> np.ndarray:
    """GIF bytes -> (H, W, 3) uint8 RGB of the FIRST frame (the reference's
    load_image takes frame 0 of animated inputs)."""
    try:
        return _gif_decode_first_frame(blob)
    except (struct.error, IndexError) as ex:
        raise CodecError(f"truncated GIF: {ex}") from ex


def _gif_decode_first_frame(blob: bytes) -> np.ndarray:
    if blob[:6] not in (b"GIF87a", b"GIF89a") or len(blob) < 13:
        raise CodecError("not a GIF")
    pos = 6
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", blob[pos : pos + 7])
    pos += 7
    global_table = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_table = np.frombuffer(blob[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(blob):
        block = blob[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while blob[pos]:
                pos += 1 + blob[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise CodecError(f"unexpected GIF block 0x{block:02x}")
        _left, _top, w, h, ipacked = struct.unpack("<HHHHB", blob[pos : pos + 9])
        pos += 9
        table = global_table
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            table = np.frombuffer(blob[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise CodecError("GIF frame without a color table")
        min_code_size = blob[pos]
        pos += 1
        chunks = []
        while blob[pos]:
            ln = blob[pos]
            chunks.append(blob[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decode(b"".join(chunks), min_code_size, w * h)
        if len(idx) < w * h:
            raise CodecError("truncated GIF pixel data")
        grid = np.frombuffer(bytes(idx[: w * h]), dtype=np.uint8).reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            order = np.concatenate(
                [np.arange(start, h, step) for start, step in _GIF_INTERLACE_PASSES]
            )
            deinter = np.empty_like(grid)
            deinter[order] = grid
            grid = deinter
        if grid.max(initial=0) >= len(table):
            raise CodecError("GIF index out of palette range")
        return table[grid]
    raise CodecError("GIF contains no image frame")


def gif_encode(img: np.ndarray) -> bytes:
    """(H, W) gray or (H, W, 3) RGB uint8 with <= 256 distinct colors ->
    single-frame GIF89a bytes. Lossless (palette built from the image)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    palette, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise CodecError(f"gif_encode needs <= 256 colors, got {len(palette)}")
    bits = max(2, int(len(palette) - 1).bit_length())
    table_n = 1 << bits
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += palette.tobytes() + b"\x00" * (3 * (table_n - len(palette)))
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)  # image descriptor

    min_code_size = bits
    clear = 1 << min_code_size
    eoi = clear + 1
    out.append(min_code_size)

    codes = []  # (code, size) stream, then bit-packed LSB-first
    table: dict[tuple, int] = {}

    def reset():
        table.clear()
        for i in range(clear):
            table[(i,)] = i
        return eoi + 1, min_code_size + 1

    next_code, code_size = reset()
    codes.append((clear, code_size))
    seq: tuple = ()
    for p in idx.tolist():
        cand = seq + (p,)
        if cand in table:
            seq = cand
            continue
        codes.append((table[seq], code_size))
        table[cand] = next_code
        if next_code == (1 << code_size) and code_size < 12:
            code_size += 1
        next_code += 1
        if next_code > 4095:
            codes.append((clear, code_size))
            next_code, code_size = reset()
        seq = (p,)
    if seq:
        codes.append((table[seq], code_size))
    codes.append((eoi, code_size))

    acc = 0
    nbits = 0
    payload = bytearray()
    for code, size in codes:
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        payload.append(acc & 0xFF)
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
