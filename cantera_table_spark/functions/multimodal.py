"""Multimodal column plumbing (north star, BASELINE.json).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched Pandas UDFs over ``mapInPandas``.

Two decode tiers:

- REAL codecs for container formats parseable with stdlib + numpy:
  uncompressed 24-bit BMP (``decode_bmp`` / ``encode_bmp`` /
  ``resize_bmp_nearest``), PNG via stdlib zlib + numpy unfiltering
  (``decode_png`` / ``encode_png`` — 8-bit gray/RGB/RGBA, all five
  scanline filters, non-interlaced), baseline sequential JPEG from
  scratch (``encode_jpeg`` / ``decode_jpeg`` — vectorized DCT/IDCT,
  Annex K quantization + Huffman tables, 4:4:4 and grayscale), and
  PCM WAV (``decode_wav`` / ``encode_wav`` / audio frame sampling),
  and Motion-JPEG AVI video (``encode_avi_mjpeg`` /
  ``decode_avi_mjpeg`` / ``avi_frame_stats`` — RIFF container walk +
  per-frame JPEG decode).  These run the full parse-pixels /
  parse-samples path — not byte fakes.
- ``decode_media``: format-agnostic byte-level features (length,
  header, checksum).  Formats without a codec here (inter-frame
  video: H.264/H.265) fall back to these byte features.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # image|audio|video
    T.StructField("data", T.BinaryType(), True),        # opaque payload
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

DECODED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("header_hex", T.StringType(), True),
    T.StructField("byte_checksum", T.LongType(), False),
])


# ---------------------------------------------------------------------------
# Real codecs: uncompressed 24-bit BMP and PCM WAV (stdlib + numpy only)
# ---------------------------------------------------------------------------

def encode_bmp(pixels_bgr: bytes, width: int, height: int) -> bytes:
    """Build an uncompressed 24-bit BI_RGB BMP from a raw BGR pixel
    buffer laid out in file order (bottom-up rows).  Rows are padded to
    4-byte multiples per the format."""
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    rows = []
    for r in range(height):
        row = pixels_bgr[r * row_bytes:(r + 1) * row_bytes]
        rows.append(row + b"\x00" * (row_bytes - len(row)) + b"\x00" * pad)
    pix = b"".join(rows)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pix), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0,
                           14 + 40)
    return file_hdr + info + pix


def decode_bmp(data: bytes) -> dict:
    """Parse an uncompressed 24-bit BMP: dimensions + per-channel pixel
    means.  Raises ValueError on anything that is not a BI_RGB 24bpp
    BMP (the honest boundary: compressed formats need native codecs)."""
    import numpy as np
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    (hdr_sz, width, height, planes, bpp, compression) = \
        struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, "
                         f"compression={compression})")
    top_down = height < 0
    h = abs(height)
    img = _bmp_pixel_view(data, pix_off, width, h)
    if not top_down:
        img = img[::-1]              # bottom-up file order -> image order
    means = img.reshape(-1, 3).mean(axis=0) if img.size else [0.0] * 3
    return {"width": width, "height": h,
            "mean_b": float(means[0]), "mean_g": float(means[1]),
            "mean_r": float(means[2])}


def _bmp_pixel_view(data: bytes, pix_off: int, width: int,
                    h: int) -> np.ndarray:
    """(h, width, 3) uint8 view over a 24-bit BMP's pixel region in
    FILE row order — one frombuffer + as_strided instead of a
    per-row frombuffer loop (which dominated small-image decode cost).
    The last row's 4-byte pad may be absent in a minimal file, so the
    backing buffer is sized to (h-1)*stride + row_bytes exactly like
    the per-row reads were; short buffers raise the same ValueError
    numpy raised per row."""
    row_bytes = width * 3
    stride = row_bytes + ((-row_bytes) % 4)
    if h == 0 or width == 0:
        return np.zeros((h, width, 3), np.uint8)
    need = (h - 1) * stride + row_bytes
    flat = np.frombuffer(data, np.uint8, count=need, offset=pix_off)
    return np.lib.stride_tricks.as_strided(
        flat, shape=(h, width, 3), strides=(stride, 3, 1), writeable=False)


def resize_bmp_nearest(data: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbour resize of a 24-bit BMP, re-encoded as BMP —
    the distributed thumbnailing kernel (pure numpy indexing).

    Handles both row orders: bottom-up (height > 0) rows pass through
    in file order; top-down (height < 0) rows are flipped before the
    bottom-up re-encode so the thumbnail is never vertically mirrored
    (decode_bmp round-trips both)."""
    import numpy as np
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    (_, width, height, _, bpp, compression) = \
        struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP")
    top_down = height < 0
    h = abs(height)
    img = _bmp_pixel_view(data, pix_off, width, h)
    ys = (np.arange(new_h) * h) // new_h
    xs = (np.arange(new_w) * width) // new_w
    out = img[ys][:, xs]
    if top_down:
        # sampled rows are in image order; the positive-height encoding
        # below is bottom-up, so flip to keep image orientation
        out = out[::-1]
    return encode_bmp(np.ascontiguousarray(out).tobytes(), new_w, new_h)


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels_rgb: bytes, width: int, height: int) -> bytes:
    """Minimal real PNG writer: 8-bit RGB, filter 0 scanlines, one
    zlib IDAT (stdlib zlib — no native codec needed)."""
    import zlib
    row_bytes = width * 3
    raw = b"".join(
        b"\x00" + pixels_rgb[r * row_bytes:(r + 1) * row_bytes]
        .ljust(row_bytes, b"\x00")
        for r in range(height))

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + typ + payload +
                struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr) +
            chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def decode_png(data: bytes) -> dict:
    """Real PNG decode with stdlib zlib + numpy: 8-bit greyscale / RGB /
    RGBA, all five scanline filters (None/Sub/Up/Average/Paeth),
    non-interlaced.  Returns the same shape as decode_bmp (dimensions +
    per-channel means; greyscale reports the one channel in all three).
    Raises ValueError on anything outside that envelope (palette,
    16-bit, interlace — the honest boundary)."""
    import zlib
    import numpy as np
    if len(data) < 8 or data[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    idat = []
    while pos + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            (width, height, depth, color, comp, filt, interlace) = \
                struct.unpack(">IIBBBBB", body)
            if depth != 8 or color not in (0, 2, 6) or interlace:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color}, "
                    f"interlace={interlace})")
            channels = {0: 1, 2: 3, 6: 4}[color]
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG scanline data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, count=stride,
                             offset=r * (stride + 1) + 1).copy()
        if ftype == 0:
            cur = line
        elif ftype == 2:                     # Up
            cur = (line + prev).astype(np.uint8)
        elif ftype == 1:                     # Sub: recon[i] = raw[i] +
            # recon[i-ch] is a per-channel mod-256 prefix sum — a
            # uint8-accumulator cumsum wraps exactly; the scalar scan
            # this replaces dominated decode cost on Sub-filtered rows
            # (the most common encoder choice) at real image sizes
            cur = np.cumsum(line.reshape(-1, channels), axis=0,
                            dtype=np.uint8).reshape(stride)
        elif ftype in (3, 4):                # Average / Paeth need the
            cur = line                       # left neighbour AND the
            ints = cur.astype(np.int32)      # row above: per-pixel scan
            pv = prev.astype(np.int32)
            for i in range(stride):
                a = int(ints[i - channels]) if i >= channels else 0
                b = int(pv[i])
                if ftype == 3:
                    ints[i] = (ints[i] + (a + b) // 2) & 0xFF
                else:
                    c = int(pv[i - channels]) if i >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                    ints[i] = (ints[i] + pred) & 0xFF
            cur = ints.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[r] = cur
        prev = cur
    img = out.reshape(height, width, channels)
    if channels == 1:
        m = float(img.mean()) if img.size else 0.0
        means = (m, m, m)
    else:
        rgb = img[:, :, :3].reshape(-1, 3)
        mm = rgb.mean(axis=0) if rgb.size else [0.0] * 3
        means = (float(mm[2]), float(mm[1]), float(mm[0]))
    return {"width": width, "height": height,
            "mean_b": means[0], "mean_g": means[1], "mean_r": means[2]}


JPEG_SIG = b"\xff\xd8\xff"

# ITU-T T.81 Annex K reference tables (public spec).  Quantization
# tables are stored in raster order and written to DQT in zigzag order;
# Huffman tables are the spec's (BITS, HUFFVAL) pairs, from which both
# encode and decode sides derive the same canonical code assignment —
# internal consistency is by construction, and the emitted stream is
# standard baseline JFIF any conformant decoder accepts.
_JPEG_QY = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)
_JPEG_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)


def _jpeg_zigzag() -> np.ndarray:
    """Zigzag-position -> raster-index map, built from the diagonal
    traversal rule rather than transcribed (65-entry tables invite
    typos; the rule is 4 lines)."""
    out = []
    for d in range(15):
        lo, hi = max(0, d - 7), min(7, d)
        rows = range(lo, hi + 1) if d % 2 else range(hi, lo - 1, -1)
        out.extend(r * 8 + (d - r) for r in rows)
    return np.array(out, dtype=np.int64)


_JPEG_ZZ = _jpeg_zigzag()

# (BITS[1..16], HUFFVAL) per Annex K: DC luma K.3, DC chroma K.4,
# AC luma K.5, AC chroma K.6.
_JPEG_HUFF_SPEC = {
    ("dc", 0): ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12))),
    ("dc", 1): ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12))),
    ("ac", 0): ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
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
        0xF9, 0xFA]),
    ("ac", 1): ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
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
        0xF9, 0xFA]),
}
for _k, (_bits, _vals) in _JPEG_HUFF_SPEC.items():
    assert sum(_bits) == len(_vals), f"Huffman spec {_k} inconsistent"


def _huff_codes(bits: list, vals: list) -> dict:
    """Canonical code assignment (T.81 C.2): symbol -> (code, length)."""
    out, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


# The Annex K spec tables are fixed, so the encoder's canonical code
# maps are module-level constants — rebuilding all four per encoded
# image was a measurable slice of small-image encode cost (cProfile:
# ~8% of a 16x16 encode+decode round trip).
_ENC_DC_TABS = (_huff_codes(*_JPEG_HUFF_SPEC[("dc", 0)]),
                _huff_codes(*_JPEG_HUFF_SPEC[("dc", 1)]))
_ENC_AC_TABS = (_huff_codes(*_JPEG_HUFF_SPEC[("ac", 0)]),
                _huff_codes(*_JPEG_HUFF_SPEC[("ac", 1)]))


def _jpeg_dct_matrix() -> np.ndarray:
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0) / 2.0
    return c * np.cos((2 * x + 1) * u * np.pi / 16.0)


_JPEG_DCT = _jpeg_dct_matrix()


def _jpeg_quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q * scale + 50) // 100, 1, 255).astype(np.int32)


# quality -> (scaled luma table, scaled chroma table), memoized: the
# scaling is deterministic in the quality value alone and encode_jpeg
# called it twice per image.  Callers treat the tables as read-only.
_QSCALE_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _jpeg_quality_tables(quality: int):
    # keyed on the caller's raw value so non-int qualities (out of
    # contract but accepted by _jpeg_quality_scale) scale identically;
    # the third element is the (3,1,1,8,8) float64 divisor stack the
    # encoder's quantize step broadcasts over all components
    hit = _QSCALE_CACHE.get(quality)
    if hit is None:
        qy = _jpeg_quality_scale(_JPEG_QY, quality)
        qc = _jpeg_quality_scale(_JPEG_QC, quality)
        q3 = np.stack([qy, qc, qc]).astype(np.float64)[:, None, None]
        hit = (qy, qc, q3)
        _QSCALE_CACHE[quality] = hit
    return hit


class _BitWriter:
    """MSB-first bit packer with the spec's 0xFF byte stuffing and
    1-padded flush."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.n -= 8
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.n = 0
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category, value-bits)."""
    s = int(abs(v)).bit_length()
    return (s, v if v >= 0 else v + (1 << s) - 1)


def encode_jpeg(pixels_rgb: bytes, width: int, height: int,
                quality: int = 90) -> bytes:
    """Baseline sequential JFIF encoder, stdlib + numpy only: YCbCr
    4:4:4, one stacked DCT matmul pair over all three components, Annex
    K quantization (IJG quality scaling) and Huffman tables.  No subsampling and no
    restart intervals — every block carries full chroma, which keeps
    the constant-block reconstruction exact (the mm08 oracle contract).
    """
    buf = np.frombuffer(pixels_rgb[:width * height * 3]
                        .ljust(width * height * 3, b"\x00"), np.uint8)
    img = buf.reshape(height, width, 3).astype(np.float64)
    r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    ph = (8 - height % 8) % 8
    pw = (8 - width % 8) % 8
    qy, qc, q3 = _jpeg_quality_tables(quality)
    if ph or pw:
        planes = [np.pad(p, ((0, ph), (0, pw)), mode="edge")
                  for p in planes]
    # all three component planes through ONE stacked DCT (broadcast
    # matmul pair: D @ blocks @ D^T) and one quantizing divide
    # (broadcast per-component tables).  matmul instead of the r12
    # stacked einsum: same contraction, BLAS kernels instead of
    # c_einsum's generic 5-D loop (measured 15x on the 16x16 gate
    # shape, where einsum was half the encode).  The summation ORDER
    # differs, so arbitrary images can shift an ULP vs the einsum form
    # — the QUANTIZED coefficients are proven identical exhaustively
    # over the whole gate-reachable input space (constant 8x8 blocks,
    # every gray value x every quality; tools/verify_jpeg_matmul.py)
    # and the round-trip error law is implementation-independent.
    stack3 = np.stack(planes) - 128.0               # (3, H', W')
    h3, w3 = stack3.shape[1], stack3.shape[2]
    blocks = stack3.reshape(3, h3 // 8, 8, w3 // 8, 8) \
        .transpose(0, 1, 3, 2, 4)                   # (3, bh, bw, 8, 8)
    f = np.matmul(_JPEG_DCT, np.matmul(blocks, _JPEG_DCT.T))
    qz = np.round(f / q3).astype(np.int32)
    # the Annex K AC tables define (run, size) symbols only up to
    # size 10; a quality-100 high-frequency extreme can quantize to
    # 1024, so clamp ACs into the encodable magnitude range (DC
    # diffs reach at most category 11, which the DC tables cover)
    zz3 = qz.reshape(3, -1, 64)[:, :, _JPEG_ZZ]
    zz3[:, :, 1:] = np.clip(zz3[:, :, 1:], -1023, 1023)
    # one bulk C-level conversion; the entropy loop below then runs on
    # plain Python ints (no per-element numpy scalar boxing)
    coeffs = zz3.tolist()

    dc_tabs = _ENC_DC_TABS
    ac_tabs = _ENC_AC_TABS
    w = _BitWriter()
    wr = w.write
    pred = [0, 0, 0]
    n_blocks = len(coeffs[0])
    for bi in range(n_blocks):
        for ci in range(3):
            tsel = 0 if ci == 0 else 1
            zz = coeffs[ci][bi]
            dc = zz[0]
            diff = dc - pred[ci]
            pred[ci] = dc
            s, vbits = _magnitude(diff)
            code, ln = dc_tabs[tsel][s]
            wr(code, ln)
            wr(vbits, s)
            run = 0
            last_nz = 63
            while last_nz and zz[last_nz] == 0:
                last_nz -= 1
            for k in range(1, last_nz + 1):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_tabs[tsel][0xF0]
                    wr(code, ln)
                    run -= 16
                s, vbits = _magnitude(v)
                code, ln = ac_tabs[tsel][(run << 4) | s]
                wr(code, ln)
                wr(vbits, s)
                run = 0
            if last_nz < 63:
                code, ln = ac_tabs[tsel][0x00]
                wr(code, ln)
    entropy = w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + qy.reshape(-1)[_JPEG_ZZ]
               .astype(np.uint8).tobytes())
    out += seg(0xFFDB, b"\x01" + qc.reshape(-1)[_JPEG_ZZ]
               .astype(np.uint8).tobytes())
    out += seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 3) +
               bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    for (cls, tid), (bits, vals) in _JPEG_HUFF_SPEC.items():
        tc = 0 if cls == "dc" else 1
        out += seg(0xFFC4, bytes([(tc << 4) | tid]) + bytes(bits) +
                   bytes(vals))
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def constant_block_frame(vals) -> bytes:
    """RGB bytes of a 16 x 16 image of four constant-gray 8 x 8
    quadrants (vals[0..3] row-major).  The fixture shape whose
    baseline-JPEG round-trip is exact at quality >= 80 — the single
    definition the mm08/mm09 gate synths and the scaling harness all
    share, so the oracle contract (block k = source byte k) cannot
    desynchronize across them."""
    img = np.zeros((16, 16, 3), np.uint8)
    img[:8, :8] = vals[0]
    img[:8, 8:] = vals[1]
    img[8:, :8] = vals[2]
    img[8:, 8:] = vals[3]
    return img.tobytes()


class _BitReader:
    """MSB-first reader over unstuffed entropy bytes.  Multi-bit reads
    are one slice + int.from_bytes instead of a per-bit Python loop
    (the former per-bit path dominated small-image decode cost); the
    trailing zero padding exists only so peeks near the end never
    slice short — ``nbits`` is the hard exhaustion bound, exactly
    where the per-bit reader raised."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data + b"\x00\x00\x00\x00"
        self.nbits = len(data) * 8
        self.pos = 0

    def bits(self, n: int) -> int:
        pos = self.pos
        if pos + n > self.nbits:
            raise ValueError("JPEG entropy stream exhausted")
        self.pos = pos + n
        byte = pos >> 3
        # slice exactly the bytes the read spans (works for ANY n —
        # a corrupt DC table can request an arbitrary category, which
        # the per-bit reader also served as long as bits remained)
        nbytes = ((pos & 7) + n + 7) >> 3
        v = int.from_bytes(self.data[byte:byte + nbytes], "big")
        return (v >> (nbytes * 8 - (pos & 7) - n)) & ((1 << n) - 1)


# (BITS ++ HUFFVAL) bytes -> (canonical map, 8-bit LUT); see the DHT
# parser in _decode_jpeg.  Bounded at 64 entries (a worker decoding a
# corpus of adversarial per-image tables must not grow it unboundedly).
_DHT_CACHE: dict[bytes, tuple] = {}


def _huff_lut(dec: dict) -> list:
    """8-bit-prefix lookup table for a canonical Huffman map keyed by
    (length, code): lut[next 8 bits] = (symbol, length) for every code
    of length <= 8 (codes longer than 8 take the per-bit fallback in
    _huff_decode).  256 slots, built once per DHT segment."""
    lut: list = [None] * 256
    for (length, code), sym in dec.items():
        if length <= 8:
            base = code << (8 - length)
            entry = (sym, length)
            for i in range(1 << (8 - length)):
                lut[base + i] = entry
    return lut


def _huff_decode(reader: _BitReader, table: tuple) -> int:
    """Decode one Huffman symbol: peek 8 bits and hit the LUT (covers
    every Annex K DC code and the common AC codes), else walk the
    canonical map bit by bit up to 16 bits — same exhaustion /
    invalid-code ValueErrors as the former per-bit state machine."""
    dec, lut = table
    pos = reader.pos
    data = reader.data
    byte = pos >> 3
    peek = ((int.from_bytes(data[byte:byte + 3], "big")
             >> (16 - (pos & 7))) & 0xFF)
    hit = lut[peek]
    if hit is not None:
        sym, ln = hit
        if pos + ln > reader.nbits:
            raise ValueError("JPEG entropy stream exhausted")
        reader.pos = pos + ln
        return sym
    nbits = reader.nbits
    code, ln = peek, 8
    while ln < 16:
        p = pos + ln
        if p >= nbits:
            raise ValueError("JPEG entropy stream exhausted")
        code = (code << 1) | ((data[p >> 3] >> (7 - (p & 7))) & 1)
        ln += 1
        sym = dec.get((ln, code))
        if sym is not None:
            reader.pos = pos + ln
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(vbits: int, s: int) -> int:
    if s == 0:
        return 0
    return vbits if vbits >= (1 << (s - 1)) else vbits - (1 << s) + 1


def decode_jpeg(data: bytes) -> dict:
    """Baseline sequential JFIF decoder, stdlib + numpy only: marker
    walk, canonical Huffman decode, dequant + inverse zigzag, one
    stacked IDCT matmul pair over all components, YCbCr -> RGB.  Supports 3
    components (4:4:4 color) or 1 (grayscale), 1x1 sampling —
    progressive scans, subsampled chroma, restart intervals, and other
    component counts (2-channel, Adobe CMYK/YCCK) raise ValueError
    (the honest boundary, like decode_png's envelope; a silently
    3-plane-decoded CMYK would fabricate features).  A corrupt entropy
    stream surfacing as Index/KeyError from the Huffman state machine —
    or struct.error from unpack_from on a truncated SOF/SOS body — is
    normalized to ValueError here, so callers keep one quarantine
    class.  Returns the decode_bmp/decode_png shape (dimensions +
    per-channel means) plus the reconstructed RGB bytes."""
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"corrupt JPEG stream: {e!r}") from e


def _decode_jpeg(data: bytes) -> dict:
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[tuple[int, int, int]] = []   # (comp_id, sampling, qsel)
    scan: list[tuple[int, int, int]] = []    # (comp_id, dcsel, acsel)
    entropy = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = data[pos + 1]
        (ln,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            off = 0
            while off < len(body):
                pq, tid = body[off] >> 4, body[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                table = np.zeros(64, dtype=np.int32)
                table[_JPEG_ZZ] = np.frombuffer(body, np.uint8, 64,
                                                off + 1)
                qtabs[tid] = table.reshape(8, 8)
                off += 65
        elif marker in (0xC0, 0xC1):
            prec, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(
                    f"{prec}-bit sample precision unsupported (baseline "
                    "8-bit only)")
            comps = [(body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i])
                     for i in range(nc)]
            if any(samp != 0x11 for _, samp, _q in comps):
                raise ValueError("subsampled JPEG unsupported (4:4:4 "
                                 "and grayscale only)")
        elif marker == 0xC2:
            raise ValueError("progressive JPEG unsupported")
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                tc, tid = body[off] >> 4, body[off] & 0x0F
                bits = list(body[off + 1:off + 17])
                nv = sum(bits)
                # the canonical map + LUT are pure functions of the
                # (BITS, HUFFVAL) payload — memoize on those bytes so
                # a corpus of same-table streams (every encode_jpeg
                # output: Annex K) builds them once per worker, not
                # once per image
                seg_key = bytes(body[off + 1:off + 17 + nv])
                cached = _DHT_CACHE.get(seg_key)
                if cached is None:
                    vals = list(body[off + 17:off + 17 + nv])
                    dec = {}
                    code, i = 0, 0
                    for length in range(1, 17):
                        for _ in range(bits[length - 1]):
                            dec[(length, code)] = vals[i]
                            code += 1
                            i += 1
                        code <<= 1
                    cached = (dec, _huff_lut(dec))
                    if len(_DHT_CACHE) < 64:      # bound worker memory
                        _DHT_CACHE[seg_key] = cached
                htabs[(tc, tid)] = cached
                off += 17 + nv
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            ns = body[0]
            scan = [(body[1 + 2 * i], body[2 + 2 * i] >> 4,
                     body[2 + 2 * i] & 0x0F) for i in range(ns)]
            end = pos
            while end + 1 < len(data):
                if data[end] != 0xFF:
                    end += 1
                elif data[end + 1] == 0x00:
                    end += 2
                else:
                    break
            entropy = data[pos:end].replace(b"\xff\x00", b"\xff")
            break
    if width is None or entropy is None or not scan:
        raise ValueError("JPEG missing SOF/SOS")
    if len(scan) not in (1, 3):
        raise ValueError(f"unsupported JPEG component count "
                         f"{len(scan)} (grayscale or 4:4:4 color only)")
    if width == 0 or height == 0:
        raise ValueError("JPEG with zero pixel dimensions")
    bw, bh = (width + 7) // 8, (height + 7) // 8
    n_blocks = bw * bh
    reader = _BitReader(entropy)
    comp_q = {cid: qtabs[qsel] for cid, _s, qsel in comps}
    coeffs = {cid: np.zeros((n_blocks, 64), dtype=np.float64)
              for cid, _d, _a in scan}
    pred = {cid: 0 for cid, _d, _a in scan}
    # hoist the per-component table/array lookups out of the block loop
    per_comp = [(cid, htabs[(0, dsel)], htabs[(1, asel)], coeffs[cid])
                for cid, dsel, asel in scan]
    rbits = reader.bits
    for bi in range(n_blocks):
        for cid, dct, act, carr in per_comp:
            s = _huff_decode(reader, dct)
            diff = _extend(rbits(s), s)
            pred[cid] += diff
            zz = carr[bi]
            zz[0] = pred[cid]
            k = 1
            while k < 64:
                sym = _huff_decode(reader, act)
                if sym == 0x00:
                    break
                if sym == 0xF0:
                    k += 16
                    continue
                run, size = sym >> 4, sym & 0x0F
                k += run
                if k > 63:
                    raise ValueError("JPEG AC run past block end")
                zz[k] = _extend(rbits(size), size)
                k += 1
    # every scan component through ONE stacked dequant + IDCT
    # (broadcast matmul pair: D^T @ blocks @ D — same contraction as
    # the r12 stacked einsum through BLAS kernels; see the encoder's
    # note on summation order and the exhaustive gate-input proof.
    # For the gate-reachable DC-only blocks the sums have a single
    # nonzero term, so the two forms are exactly equal there by
    # construction as well)
    deq3 = np.zeros((len(scan), n_blocks, 64), dtype=np.float64)
    for pi, (cid, _d, _a) in enumerate(scan):
        deq3[pi, :, _JPEG_ZZ] = (coeffs[cid] *
                                 comp_q[cid].reshape(-1)[_JPEG_ZZ]).T
    blocks3 = deq3.reshape(len(scan), n_blocks, 8, 8)
    spatial3 = np.matmul(_JPEG_DCT.T,
                         np.matmul(blocks3, _JPEG_DCT)) + 128.0
    planes = [
        (spatial3[pi].reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
         .reshape(bh * 8, bw * 8))[:height, :width]
        for pi in range(len(scan))]
    if len(planes) == 1:
        gray = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        m = float(gray.mean()) if gray.size else 0.0
        means = (m, m, m)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
    else:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        rr = np.clip(np.round(y + 1.402 * cr), 0, 255)
        gg = np.clip(np.round(y - 0.344136 * cb - 0.714136 * cr), 0, 255)
        bb = np.clip(np.round(y + 1.772 * cb), 0, 255)
        means = (float(bb.mean()), float(gg.mean()), float(rr.mean()))
        rgb = np.stack([rr, gg, bb], axis=2).astype(np.uint8)
    return {"width": width, "height": height,
            "mean_b": means[0], "mean_g": means[1], "mean_r": means[2],
            "pixels": rgb.tobytes()}


GIF_SIG = b"GIF89a"


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW compression of an index stream (LSB-first bit
    packing, clear/end codes, variable code width min+1..12; when the
    dictionary fills at 4096 entries it goes static — the spec's
    deferred-clear mode, which every conformant decoder accepts)."""
    clear = 1 << min_code_size
    end = clear + 1
    bitbuf = bitcnt = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf |= code << bitcnt
        bitcnt += width
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    table: dict = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    w: tuple = ()
    for px in indices:
        wk = w + (int(px),)
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # decoder bumps at next_code == 1<<width; it lags one
            # insertion behind the encoder, hence the +1 here
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w = (int(px),)
    if w:
        emit(table[w], width)
    emit(end, width)
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """GIF-variant LZW decompression (inverse of _lzw_encode; also
    accepts any conformant encoder's stream, including deferred-clear)."""
    clear = 1 << min_code_size
    end = clear + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    next_code = end + 1
    width = min_code_size + 1
    out = bytearray()
    bitbuf = bitcnt = pos = 0
    prev = None
    while len(out) < n_expected:
        while bitcnt < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            bitbuf |= data[pos] << bitcnt
            pos += 1
            bitcnt += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitcnt -= width
        if code == clear:
            table = dict(base)
            next_code = end + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code not in table:
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = table[prev] + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    if len(out) != n_expected:
        raise ValueError("LZW pixel count mismatch")
    return bytes(out)


def _gif_subblocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(frames, width: int, height: int) -> bytes:
    """Real animated GIF writer: 256-entry greyscale global palette
    (palette[i] = (i,i,i)), one image block per frame of width*height
    palette indices, real LZW compression, a 4 cs GCE delay per
    frame."""
    out = bytearray()
    out += GIF_SIG
    out += struct.pack("<HH", width, height)
    out.append(0xF7)                     # global table, 256 entries
    out += b"\x00\x00"                   # bg index, aspect
    for i in range(256):                 # greyscale palette
        out += bytes((i, i, i))
    for fr in frames:
        fr = bytes(fr)
        if len(fr) != width * height:
            raise ValueError("frame size mismatch")
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", 4) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out.append(8)                    # min LZW code size
        out += _gif_subblocks(_lzw_encode(fr, 8))
    out += b"\x3b"
    return bytes(out)


def decode_gif(data: bytes) -> dict:
    """Real GIF decode (stdlib-only): header + logical screen
    descriptor, global/local color tables, full LZW decompression per
    image block, greyscale-or-color palette mapping.  Returns
    {width, height, n_frames, frames: [bytes RGB per frame]}.
    Interlaced images raise ValueError (honest boundary, like the PNG
    decoder's envelope)."""
    if len(data) < 13 or data[:3] != b"GIF":
        raise ValueError("not a GIF payload")
    width, height = struct.unpack_from("<HH", data, 6)
    packed = data[10]
    pos = 13
    global_pal = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_pal = data[pos:pos + 3 * n]
        pos += 3 * n
    frames = []
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:                # trailer
            break
        if block == 0x21:                # extension: skip sub-blocks
            pos += 1                     # label
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        x, y, w, h = struct.unpack_from("<HHHH", data, pos)
        ipacked = data[pos + 8]
        pos += 9
        if ipacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        if not w or not h:
            # a zero-sized frame would decode to zero pixels and emit
            # NaN means downstream instead of quarantining
            raise ValueError("zero-sized GIF frame")
        if (x, y) != (0, 0) or (w, h) != (width, height):
            # real animated GIFs carry changed-region PATCH frames;
            # returning raw patch bytes under logical-screen dimensions
            # would fabricate features silently — honest boundary, like
            # the interlace case (compositing onto the canvas is the
            # upgrade path)
            raise ValueError(
                f"uncomposited GIF patch frame unsupported "
                f"({w}x{h}@{x},{y} on {width}x{height} screen)")
        pal = global_pal
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = data[pos:pos + 3 * n]
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image without a color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos]:
            ln = data[pos]
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(lzw), min_code, w * h)
        # one vectorized palette gather per frame — a per-pixel Python
        # loop here dominated whole-batch decode cost at real frame
        # sizes; out-of-range indices (corrupt stream) raise IndexError,
        # which the Arrow-batch quarantine treats as undecodable
        pal_rgb = np.frombuffer(bytes(pal), np.uint8).reshape(-1, 3)
        frames.append(pal_rgb[np.frombuffer(idx, np.uint8)].tobytes())
    if not frames:
        raise ValueError("GIF contains no image blocks")
    return {"width": width, "height": height,
            "n_frames": len(frames), "frames": frames}


_FRAME_STATS_FIELDS = [
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
]


def _frame_stats_map(media: DataFrame, decoder, schema: "T.StructType",
                     row_fn, every_n: int = 1) -> DataFrame:
    """Shared Arrow-batched frame-stats scaffolding for the video
    codecs (gif/avi/ipv — previously three hand-synced copies, r10
    review finding).  The quarantine try covers ONLY the decoder call
    (ValueError/struct.error/IndexError -> one all-NULL row): a bug in
    the sampling/stats loop itself — e.g. a bad ``every_n`` — must
    fail loudly instead of silently NULLing a whole corpus (the
    decode_images posture).  ``row_fn(media_id, frame_idx, decoded,
    mean_rgb)`` shapes the output row."""
    # normalize BEFORE the loop: a float like 2.5 passes an
    # int()-only guard (int()=2) and then range(0, n, 2.5) raises
    # TypeError in executors, defeating the fail-at-entry intent
    # (r10 advisory)
    if int(every_n) != every_n or int(every_n) < 1:
        raise ValueError(f"every_n must be an integer >= 1: {every_n!r}")
    every_n = int(every_n)
    n_cols = len(schema.fields)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    d = decoder(bytes(data) if data is not None else b"")
                except (ValueError, struct.error, IndexError):
                    rows.append((mid,) + (None,) * (n_cols - 1))
                    continue
                for fi in range(0, d["n_frames"], every_n):
                    px = np.frombuffer(d["frames"][fi],
                                       np.uint8).reshape(-1, 3)
                    m = px.mean(axis=0)
                    rows.append(row_fn(mid, fi, d, m))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return media.mapInPandas(batches, schema)


def gif_frame_stats(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Decode animated GIF payloads and emit one row per sampled frame
    (frame_idx % every_n == 0) with per-channel means — real container
    frame sampling (vs the byte-window stand-in in frame_sample).
    Arrow-batched; undecodable payloads quarantine to a single NULL
    row."""
    return _frame_stats_map(
        media, decode_gif, T.StructType(_FRAME_STATS_FIELDS),
        lambda mid, fi, d, m: (mid, fi, d["width"], d["height"],
                               float(m[0]), float(m[1]), float(m[2])),
        every_n=every_n)


AVI_SIG = b"RIFF"


def encode_avi_mjpeg(frames_rgb, width: int, height: int) -> bytes:
    """Minimal real Motion-JPEG AVI writer: a RIFF container (the WAV
    sibling format) with a conformant hdrl (avih + vids/MJPG strh +
    BITMAPINFOHEADER strf), one baseline-JPEG '00dc' chunk per frame
    (encode_jpeg at its default quality), and an idx1 index, at 10
    frames per second.  Word-aligned chunks per the RIFF spec."""
    fps = 10
    payloads = [encode_jpeg(f, width, height) for f in frames_rgb]

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    maxb = max((len(p) for p in payloads), default=0)
    avih = struct.pack("<14I", 1_000_000 // fps, maxb * fps, 0, 0x10,
                       len(payloads), 0, 1, maxb, width, height,
                       0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0,
                                            1, fps, 0, len(payloads),
                                            maxb, -1, 0) +
            struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) +
               lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_chunks = [chunk(b"00dc", p) for p in payloads]
    movi = lst(b"movi", b"".join(movi_chunks))
    idx, off = [], 4
    for c, p in zip(movi_chunks, payloads):
        idx.append(b"00dc" + struct.pack("<III", 0x10, off, len(p)))
        off += len(c)
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(data: bytes) -> dict:
    """Real Motion-JPEG AVI decode: RIFF chunk walk to the movi LIST,
    per-frame baseline-JPEG decode ('00dc'/'00db' chunks) via
    decode_jpeg.  Returns the decode_gif shape (width, height,
    n_frames, frames as RGB byte buffers).  Non-AVI RIFFs, streams
    with no decodable frames, and compressed-video handlers the
    container may carry all raise ValueError (an H.264 payload fails
    the JPEG magic check per frame — the honest boundary).  For the
    inter-frame path the repo ships the IPV1 toy I/P codec
    (:func:`encode_ipv`/:func:`decode_ipv`); full motion-compensated
    codecs (H.264/H.265) remain the documented plug-point."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    frames = []

    def walk(buf: bytes) -> None:
        pos = 0
        while pos + 8 <= len(buf):
            fourcc = buf[pos:pos + 4]
            (ln,) = struct.unpack_from("<I", buf, pos + 4)
            body = buf[pos + 8:pos + 8 + ln]
            pos += 8 + ln + (ln % 2)
            if fourcc == b"LIST":
                walk(body[4:])
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append(body)

    walk(data[12:])
    if not frames:
        raise ValueError("AVI contains no video frame chunks")
    decoded = [decode_jpeg(f) for f in frames]
    w, h = decoded[0]["width"], decoded[0]["height"]
    if any(d["width"] != w or d["height"] != h for d in decoded):
        raise ValueError("AVI frames disagree on dimensions")
    return {"width": w, "height": h, "n_frames": len(decoded),
            "frames": [d["pixels"] for d in decoded]}


def avi_frame_stats(media: DataFrame) -> DataFrame:
    """Decode Motion-JPEG AVI payloads and emit one row per frame with
    per-channel means — real video-container frame decoding, the
    gif_frame_stats sibling for the compressed-frame path.
    Arrow-batched; undecodable payloads quarantine to a single NULL
    row."""
    return _frame_stats_map(
        media, decode_avi_mjpeg, T.StructType(_FRAME_STATS_FIELDS),
        lambda mid, fi, d, m: (mid, fi, d["width"], d["height"],
                               float(m[0]), float(m[1]), float(m[2])))


IPV_MAGIC = b"IPV1"


def encode_ipv(frames_rgb, width: int, height: int, gop: int = 4) -> bytes:
    """Toy MPEG-1-style intra/predicted video codec (reference parity
    target: the inter-frame plug-point decode_avi_mjpeg documents).
    Every ``gop``-th frame is an I-frame carrying a full baseline JPEG
    (encode_jpeg); the frames between are P-frames carrying the mod-256
    wrap-delta against the previous RECONSTRUCTED frame, itself
    JPEG-coded.  The wrap-delta is the lossless byte predictor (PNG's
    Sub filter family): for constant-block fixtures the delta planes
    are constant blocks too, so the whole stream round-trips EXACTLY at
    quality >= 80 — the mm08/mm09 oracle contract extends to mm10.  A
    production inter codec would code a signed residual DCT with its
    own quantizer and motion search; this toy is zero-motion and
    documented as such.

    Closed-loop DPCM: the encoder derives each delta from its own
    DECODED output (not the source frame), so JPEG quantization error
    can never accumulate across a GOP.

    Container: ``IPV1`` magic + <HHHH (width, height, n_frames, gop),
    then per frame: 1 type byte (0x49 'I' / 0x50 'P') + <I payload
    length + JPEG payload."""
    if gop <= 0:
        raise ValueError(f"gop must be positive: {gop}")
    # the <HHHH header is unsigned 16-bit; out-of-range values must be
    # the module's single ValueError quarantine class (the contract
    # decode_ipv and the docstrings promise), not a raw struct.error
    for label, v in (("width", width), ("height", height),
                     ("n_frames", len(frames_rgb)), ("gop", gop)):
        if v > 0xFFFF:
            raise ValueError(
                f"IPV1 {label} {v} exceeds the u16 header field")
    out = bytearray(IPV_MAGIC + struct.pack("<HHHH", width, height,
                                            len(frames_rgb), gop))
    recon_prev = None
    for i, f in enumerate(frames_rgb):
        arr = np.frombuffer(bytes(f), np.uint8)
        if arr.size != width * height * 3:
            raise ValueError("IPV frame size disagrees with dimensions")
        if i % gop == 0 or recon_prev is None:
            payload = encode_jpeg(arr.tobytes(), width, height)
            ftype = 0x49
            recon = np.frombuffer(decode_jpeg(payload)["pixels"],
                                  np.uint8)
        else:
            delta = ((arr.astype(np.int16) -
                      recon_prev.astype(np.int16)) % 256).astype(np.uint8)
            payload = encode_jpeg(delta.tobytes(), width, height)
            ftype = 0x50
            dd = np.frombuffer(decode_jpeg(payload)["pixels"], np.uint8)
            recon = ((recon_prev.astype(np.int16) + dd.astype(np.int16))
                     % 256).astype(np.uint8)
        out += bytes([ftype]) + struct.pack("<I", len(payload)) + payload
        recon_prev = recon
    return bytes(out)


def decode_ipv(data: bytes) -> dict:
    """Decode an IPV1 intra/predicted stream (see :func:`encode_ipv`):
    container walk, per-frame baseline-JPEG decode, P-frame wrap-delta
    reconstruction against the running reference.  Returns the
    decode_avi_mjpeg shape (width, height, n_frames, frames) plus
    ``gop`` and per-frame ``frame_types``.  Non-IPV payloads, truncated
    records, dimension/count disagreements, a P-frame with no I-frame
    reference, and unknown frame types (B-frames / motion-compensated
    inter coding stay a documented plug-point) all raise ValueError."""
    data = bytes(data)
    if len(data) < 12 or data[:4] != IPV_MAGIC:
        raise ValueError("not an IPV payload")
    width, height, n_frames, gop = struct.unpack_from("<HHHH", data, 4)
    pos = 12
    frames: list[bytes] = []
    types: list[str] = []
    prev = None
    while pos < len(data):
        if pos + 5 > len(data):
            raise ValueError("truncated IPV frame header")
        ftype = data[pos]
        (ln,) = struct.unpack_from("<I", data, pos + 1)
        payload = data[pos + 5:pos + 5 + ln]
        if len(payload) != ln:
            raise ValueError("truncated IPV frame payload")
        pos += 5 + ln
        d = decode_jpeg(payload)
        if (d["width"], d["height"]) != (width, height):
            raise ValueError("IPV frame dims disagree with header")
        px = np.frombuffer(d["pixels"], np.uint8)
        if ftype == 0x49:
            recon = px
        elif ftype == 0x50:
            if prev is None:
                raise ValueError("IPV P-frame without an I-frame "
                                 "reference")
            recon = ((prev.astype(np.int16) + px.astype(np.int16))
                     % 256).astype(np.uint8)
        else:
            raise ValueError(f"unknown IPV frame type {ftype:#x} "
                             "(B/motion-compensated frames unsupported)")
        frames.append(recon.tobytes())
        types.append("I" if ftype == 0x49 else "P")
        prev = recon
    if not frames:
        raise ValueError("IPV contains no frames")
    if len(frames) != n_frames:
        raise ValueError("IPV frame count disagrees with header")
    return {"width": width, "height": height, "n_frames": len(frames),
            "gop": gop, "frames": frames, "frame_types": types}


def ipv_frame_stats(media: DataFrame) -> DataFrame:
    """Decode IPV1 intra/predicted video payloads and emit one row per
    frame with the keyframe flag and per-channel means — the
    avi_frame_stats sibling for the delta-frame path.  Arrow-batched;
    undecodable payloads quarantine to a single NULL row."""
    schema = T.StructType(
        _FRAME_STATS_FIELDS[:2] +
        [T.StructField("is_key", T.BooleanType(), True)] +
        _FRAME_STATS_FIELDS[2:])
    return _frame_stats_map(
        media, decode_ipv, schema,
        lambda mid, fi, d, m: (mid, fi, d["frame_types"][fi] == "I",
                               d["width"], d["height"],
                               float(m[0]), float(m[1]), float(m[2])))


def encode_wav(samples_i16) -> bytes:
    """Mono 16-bit 8 kHz PCM WAV from an int16 sample sequence (stdlib
    ``wave`` writer)."""
    import io
    import wave
    import numpy as np
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.asarray(samples_i16, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> dict:
    """Parse a PCM WAV (stdlib ``wave``): channel/rate/frame metadata
    plus mean absolute amplitude of the int16 samples."""
    import io
    import wave
    import numpy as np
    with wave.open(io.BytesIO(bytes(data)), "rb") as w:
        n_ch, sampwidth, rate, n_frames = (w.getnchannels(),
                                           w.getsampwidth(),
                                           w.getframerate(),
                                           w.getnframes())
        if sampwidth != 2:
            raise ValueError(f"only 16-bit PCM supported "
                             f"(sampwidth={sampwidth})")
        raw = w.readframes(n_frames)
    samples = np.frombuffer(raw, dtype="<i2")
    mean_abs = float(np.abs(samples.astype(np.int64)).mean()) \
        if samples.size else 0.0
    return {"n_channels": n_ch, "sample_rate": rate,
            "n_frames": n_frames, "mean_abs": mean_abs}


IMAGE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
])

AUDIO_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("mean_abs", T.DoubleType(), True),
])


def decode_images(media: DataFrame) -> DataFrame:
    """Real image decode over Arrow batches — BMP, PNG, or baseline
    JPEG per payload, dispatched on the container magic: (media_id,
    width, height, per-channel pixel means).  Means are left unrounded:
    the channel sum is integer-exact in float64 and a single
    correctly-rounded division matches SQL ``avg`` bit-for-bit, whereas
    decimal rounding would reopen Python-banker's vs SQL-half-up tie
    skew.  Undecodable payloads yield NULL feature columns (quarantine
    posture — a bad payload must not kill a 100 TB job).  The catch is
    deliberately narrow: decode_jpeg normalizes its Huffman-machine
    Index/KeyErrors to ValueError itself, so a genuine implementation
    bug elsewhere still fails loudly instead of quarantining a whole
    corpus."""
    import zlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                b = bytes(data) if data is not None else b""
                try:
                    if b[:8] == PNG_SIG:
                        d = decode_png(b)
                    elif b[:2] == b"\xff\xd8":
                        d = decode_jpeg(b)
                    else:
                        d = decode_bmp(b)
                    rows.append((mid, d["width"], d["height"],
                                 d["mean_b"], d["mean_g"], d["mean_r"]))
                except (ValueError, struct.error, zlib.error):
                    rows.append((mid, None, None, None, None, None))
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_SCHEMA])

    return media.mapInPandas(batches, IMAGE_SCHEMA)


def decode_audio(media: DataFrame) -> DataFrame:
    """Real PCM WAV decode over Arrow batches: (media_id, n_channels,
    sample_rate, n_frames, mean_abs).  mean_abs is unrounded (exact —
    see decode_images).  Undecodable payloads yield NULL feature
    columns."""
    import wave

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    d = decode_wav(bytes(data) if data is not None else b"")
                    rows.append((mid, d["n_channels"], d["sample_rate"],
                                 d["n_frames"], d["mean_abs"]))
                except (ValueError, EOFError, wave.Error, struct.error):
                    rows.append((mid, None, None, None, None))
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA])

    return media.mapInPandas(batches, AUDIO_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents fixture: the
    text bytes stand in for an opaque payload (deterministic)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("data"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("meta"))


def decode_media(media: DataFrame) -> DataFrame:
    """'Decode' each payload with an Arrow-batched Pandas UDF: byte
    length, first-4-bytes hex header, and a per-payload checksum
    (sum of byte values mod 2^31).  Shape and batching are exactly what
    a real decoder would use; only the math inside is the fake."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            # data is nullable in MEDIA_SCHEMA — decode NULL payloads to
            # empty-payload rows instead of crashing the task.
            bufs = [bytes(b) if b is not None else b"" for b in pdf["data"]]
            lens = np.fromiter((len(b) for b in bufs), np.int64,
                               count=len(bufs))
            # one concatenated buffer + prefix sums: per-payload byte
            # sums come from two boundary lookups instead of a python
            # loop over every payload (the batch-dominant cost)
            concat = np.frombuffer(b"".join(bufs), np.uint8)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            csum = np.concatenate(
                ([0], np.cumsum(concat, dtype=np.int64)))
            sums = (csum[bounds[1:]] - csum[bounds[:-1]]) % 2_147_483_648
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "n_bytes": lens.astype("int32"),
                "header_hex": [b[:4].hex() for b in bufs],
                "byte_checksum": sums.astype("int64"),
            })

    return media.mapInPandas(batches, DECODED_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' stand-in: emit one row per sampled window of the
    payload (media_id, frame_idx, frame_hex) — the row-explosion shape
    of real video frame extraction, with deterministic fake contents."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                b = bytes(data) if data is not None else b""
                for i in range(0, len(b), every_n_bytes):
                    ids.append(mid)
                    idxs.append(i // every_n_bytes)
                    frames.append(b[i:i + 4].hex())
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs,
                                "frame_hex": frames})

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hex", T.StringType(), True),
    ])
    return media.mapInPandas(batches, schema)
