"""Focused tests for the r13 codec kernel fast paths (multimodal.py):
the sliced-int bit reader + 8-bit-LUT Huffman decode, the stacked
single-einsum DCT/IDCT, the memoized quality/DHT tables, and the
strided BMP pixel view.  All spark-free — these pin the kernel
internals the Arrow-batched operators (mm01/mm04/mm08/mm09/mm10)
execute per row."""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from cantera_table_spark.functions import multimodal as mm


def test_bit_reader_multibit_and_exhaustion():
    r = mm._BitReader(bytes([0b10110011, 0b01000000]))
    assert r.bits(3) == 0b101
    assert r.bits(0) == 0
    assert r.bits(6) == 0b100110
    assert r.bits(3) == 0b100
    # 12 of 16 bits consumed; a 5-bit read crosses the hard bound the
    # per-bit reader enforced (byte granularity = len(data) * 8)
    with pytest.raises(ValueError, match="exhausted"):
        r.bits(5)
    # arbitrarily wide reads (corrupt DC category) still work while
    # bits remain — the old per-bit loop served any n
    r2 = mm._BitReader(bytes(range(16)))
    assert r2.bits(60) == int.from_bytes(bytes(range(8)), "big") >> 4


def test_huff_decode_lut_and_long_code_fallback():
    # canonical toy table: 'A' = 0 (1 bit), then a 9-bit and a 10-bit
    # code so the fallback path past the 8-bit LUT is exercised
    dec = {(1, 0b0): 65, (9, 0b111111110): 66, (10, 0b1111111110): 67}
    table = (dec, mm._huff_lut(dec))
    # LUT hit: every 8-bit prefix starting 0 decodes 'A' in 1 bit
    r = mm._BitReader(bytes([0b00000000]))
    assert mm._huff_decode(r, table) == 65 and r.pos == 1
    # 9-bit code: 1111 1111 0 + padding
    r = mm._BitReader(bytes([0b11111111, 0b00000000]))
    assert mm._huff_decode(r, table) == 66 and r.pos == 9
    # 10-bit code
    r = mm._BitReader(bytes([0b11111111, 0b10000000]))
    assert mm._huff_decode(r, table) == 67 and r.pos == 10
    # a long-code prefix that runs out of real bits raises exhausted,
    # never decodes through the zero padding
    r = mm._BitReader(bytes([0b11111111]))
    with pytest.raises(ValueError, match="exhausted"):
        mm._huff_decode(r, table)


def test_huff_decode_invalid_code_raises():
    dec = {(1, 0b0): 65}           # '1...' prefixes decode to nothing
    table = (dec, mm._huff_lut(dec))
    r = mm._BitReader(bytes([0xFF, 0xFF]))
    with pytest.raises(ValueError, match="invalid JPEG Huffman"):
        mm._huff_decode(r, table)


def test_jpeg_roundtrip_random_images_noise():
    # random (worst-case entropy) images exercise every AC code length
    # including the 16-bit tails; decode must invert encode exactly at
    # the coefficient level (pixel values equal the IDCT reference)
    rng = random.Random(7)
    for w, h, q in [(8, 8, 90), (16, 16, 80), (17, 9, 95), (3, 5, 90)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        d = mm.decode_jpeg(mm.encode_jpeg(px, w, h, q))
        assert (d["width"], d["height"]) == (w, h)
        assert len(d["pixels"]) == w * h * 3


def test_quality_and_dht_memos_are_stable():
    qy1, qc1, q31 = mm._jpeg_quality_tables(90)
    qy2, qc2, q32 = mm._jpeg_quality_tables(90)
    assert qy1 is qy2 and q31 is q32
    np.testing.assert_array_equal(qy1, mm._jpeg_quality_scale(mm._JPEG_QY,
                                                              90))
    # encoding must not mutate the cached tables
    px = bytes(range(192)) * 4
    mm.encode_jpeg(px, 16, 16, 90)
    np.testing.assert_array_equal(mm._jpeg_quality_tables(90)[0], qy1)
    # DHT memo: same Annex K stream decodes twice through one entry
    j = mm.encode_jpeg(px, 16, 16, 90)
    before = len(mm._DHT_CACHE)
    mm.decode_jpeg(j)
    mm.decode_jpeg(j)
    assert len(mm._DHT_CACHE) >= 4           # the four Annex K tables
    assert len(mm._DHT_CACHE) - before <= 4  # and no per-image growth


def test_bmp_pixel_view_handles_missing_final_pad():
    # width 3 -> 9-byte rows padded to 12; a minimal writer may omit
    # the LAST row's pad, which the per-row reads accepted
    w, h = 3, 2
    px = bytes(range(w * h * 3))
    full = mm.encode_bmp(px, w, h)
    truncated = full[:len(full) - 3]      # drop the final row's pad
    assert mm.decode_bmp(truncated) == mm.decode_bmp(full)
    # but a genuinely short pixel region still quarantines
    with pytest.raises(ValueError):
        mm.decode_bmp(full[:len(full) - 4])


def test_bmp_top_down_decode_and_resize_orientation():
    w, h = 4, 4
    px = bytes((r * 37 + c) % 256 for r in range(h) for c in range(w * 3))
    bu = mm.encode_bmp(px, w, h)
    td = bytearray(bu)
    struct.pack_into("<i", td, 22, -h)     # flag top-down
    # same pixel bytes read in opposite row order -> same means
    d_bu, d_td = mm.decode_bmp(bu), mm.decode_bmp(bytes(td))
    assert d_bu == d_td
    # resize keeps image orientation for both row orders: re-decoding
    # the thumbnails yields identical channel means per row order
    t_bu = mm.decode_bmp(mm.resize_bmp_nearest(bu, 2, 2))
    t_td = mm.decode_bmp(mm.resize_bmp_nearest(bytes(td), 2, 2))
    for key in ("mean_b", "mean_g", "mean_r"):
        assert t_bu[key] == pytest.approx(t_td[key])


@pytest.mark.slow
def test_jpeg_matmul_bytes_match_einsum_reference():
    """Gate-quality JPEG bytes must not depend on the installed BLAS:
    re-run tools/verify_jpeg_matmul.py's exhaustive einsum-vs-matmul
    proof (it asserts byte identity at every gate and law quality)."""
    from tools import verify_jpeg_matmul
    verify_jpeg_matmul.main()


def _jpeg_outcome(data: bytes):
    """decode_jpeg's result, or the ValueError message it raised; any
    other exception class propagates and fails the caller."""
    try:
        return mm.decode_jpeg(data)
    except ValueError as e:
        return str(e)


@pytest.mark.slow
def test_corrupt_jpeg_fuzz_decodes_or_raises_value_error():
    """Seeded, bounded corrupt-JPEG fuzz: byte flips strictly inside the
    entropy-coded segment (after the SOS header, before EOI) and
    truncations past the SOS header.  SOF is never touched, so no case
    allocates more than its source image.  Each mutant either decodes
    at the source dimensions or raises ValueError (the module's one
    quarantine class), and decoding it twice gives the same outcome —
    the memoized DHT tables and Huffman LUTs carry no state between
    images."""
    rng = random.Random(20261019)
    sources = []
    for w, h, q in [(16, 16, 75), (16, 16, 90), (24, 8, 75), (24, 8, 90)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        data = mm.encode_jpeg(px, w, h, q)
        sos = data.index(b"\xff\xda")
        (ln,) = struct.unpack_from(">H", data, sos + 2)
        entropy_start = sos + 2 + ln
        assert data.endswith(b"\xff\xd9")
        assert entropy_start < len(data) - 2
        sources.append((w, h, data, entropy_start))
    n_raised = 0
    for i in range(500):
        w, h, data, start = sources[i % len(sources)]
        if rng.random() < 0.7:
            buf = bytearray(data)
            for _ in range(rng.randint(1, 8)):
                buf[rng.randrange(start, len(data) - 2)] ^= \
                    rng.randrange(1, 256)
            mutant = bytes(buf)
        else:
            mutant = data[:rng.randrange(start + 1, len(data))]
        first = _jpeg_outcome(mutant)
        if isinstance(first, str):
            n_raised += 1
        else:
            assert (first["width"], first["height"]) == (w, h), i
        assert _jpeg_outcome(mutant) == first, i
    # the fuzz reaches both outcomes, so neither branch is vacuous
    assert 0 < n_raised < 500
