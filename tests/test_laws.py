"""Algebraic-law property tests over the set algebra (SURVEY.md §5:
"property tests on the set-algebra laws"), hypothesis-generated.

Laws hold on *doc-id sets* (scores carry provenance-dependent values,
so score equality is only asserted where the semantics pin it down).
"""

import pytest
from hypothesis import example, given, settings, strategies as st

from cantera_table_spark.operators import set_algebra as sa
from cantera_table_spark.session import CacheScope

postings = st.lists(
    st.tuples(st.integers(0, 15), st.floats(-4, 4, width=16)),
    max_size=12,
).map(lambda v: sorted({(d, float(s)) for d, s in v}))


def to_df(spark, p):
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in p] or [],
        "doc_id long, score double")


def docs(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


def rows(df):
    return sorted((r.doc_id, r.score) for r in df.collect())


@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(a=postings, b=postings)
def test_and_is_subset_and_not_is_complement(spark, a, b):
    da, db = to_df(spark, a), to_df(spark, b)
    inter = docs(sa.intersect_and(da, db))
    diff = docs(sa.subtract(da, db))
    base = {d for d, _ in a}
    assert inter | diff == base
    assert inter & diff == set()
    assert inter == base & {d for d, _ in b}


@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(a=postings, b=postings)
def test_or_covers_union_and_de_morgan(spark, a, b):
    da, db = to_df(spark, a), to_df(spark, b)
    assert docs(sa.union_or(da, db)) == \
        {d for d, _ in a} | {d for d, _ in b}
    # De Morgan over a universe u: u - (a OR b) == (u - a) AND (u - b)
    u = [(d, 0.0) for d in range(16)]
    du = to_df(spark, u)
    lhs = docs(sa.subtract(du, sa.union_or(da, db)))
    rhs = docs(sa.intersect_and(sa.subtract(du, da), sa.subtract(du, db)))
    assert lhs == rhs


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(a=postings)
def test_dedup_idempotent_and_negate_involution(spark, a):
    da = to_df(spark, a)
    once = sa.dedup(da, use_max=True)
    assert rows(sa.dedup(once, use_max=True)) == rows(once)
    assert rows(sa.negate(sa.negate(da))) == rows(da)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(a=postings, b=postings)
def test_and_keeps_lhs_scores(spark, a, b):
    da, db = to_df(spark, a), to_df(spark, b)
    got = rows(sa.intersect_and(da, db))
    bdocs = {d for d, _ in b}
    assert got == sorted((d, s) for d, s in a if d in bdocs)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(a=postings)
def test_sample_is_deterministic_subset(spark, a):
    da = to_df(spark, a)
    s1, s2 = rows(sa.sample(da, 5)), rows(sa.sample(da, 5))
    assert s1 == s2
    assert len(s1) == min(5, len(a))
    assert {d for d, _ in s1} <= {d for d, _ in a}


def _components(pairs):
    """doc -> min doc reachable through ``pairs`` (union-find)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(max_examples=6, deadline=None)
@given(banded_=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 1),
                                  st.integers(0, 2)),
                        min_size=1, max_size=40),
       max_bucket=st.integers(1, 6))
@example(banded_=[(3, 0, 0), (1, 0, 0), (2, 0, 0), (4, 1, 0)], max_bucket=1)
def test_lsh_bucket_bound_is_identity_when_unreached(spark, banded_,
                                                     max_bucket):
    """_bucketed_pairs over ANY (doc_id, band, band_hash) multiset: with
    max_bucket >= every bucket size the bounded pair expansion equals
    the unbounded one (the star fallback only engages on oversized
    buckets), and for every max_bucket >= 1 the bounded pairs have the
    same connected components as the unbounded ones (the star keeps
    each bucket connected through its hub)."""
    from cantera_table_spark.functions.dedup import _bucketed_pairs
    banded = spark.createDataFrame(
        [(d, b, f"h{h}") for d, b, h in banded_],
        "doc_id long, band int, band_hash string")

    def pairs(mb):
        return sorted((r.doc_a, r.doc_b) for r in _bucketed_pairs(
            banded, ["band", "band_hash"], "doc_id", mb).collect())

    unbounded = pairs(None)
    assert pairs(len(banded_)) == unbounded
    assert _components(pairs(max_bucket)) == _components(unbounded)


# ---------------------------------------------------------------------------
# Codec laws (pure functions — no Spark session needed)
# ---------------------------------------------------------------------------

@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 9), h=st.integers(1, 7), data=st.binary(max_size=64))
def test_bmp_roundtrip_means_law(w, h, data):
    """encode->decode preserves dimensions and exact channel means for
    any size (odd widths exercise row padding) and any byte content."""
    import numpy as np
    from cantera_table_spark.functions.multimodal import (decode_bmp,
                                                          encode_bmp)
    n = w * h * 3
    buf = (bytes(data) * (n // max(len(data), 1) + 1))[:n] if data \
        else bytes(n)
    d = decode_bmp(encode_bmp(buf, w, h))
    arr = np.frombuffer(buf, np.uint8).reshape(-1, 3)
    assert (d["width"], d["height"]) == (w, h)
    assert d["mean_b"] == arr[:, 0].mean()
    assert d["mean_g"] == arr[:, 1].mean()
    assert d["mean_r"] == arr[:, 2].mean()


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 9), h=st.integers(1, 7), data=st.binary(max_size=64))
def test_png_roundtrip_means_law(w, h, data):
    """encode_png -> decode_png preserves dimensions and exact channel
    means for any size and byte content (RGB buffer -> mean_r/g/b)."""
    import numpy as np
    from cantera_table_spark.functions.multimodal import (decode_png,
                                                          encode_png)
    n = w * h * 3
    buf = (bytes(data) * (n // max(len(data), 1) + 1))[:n] if data \
        else bytes(n)
    d = decode_png(encode_png(buf, w, h))
    arr = np.frombuffer(buf, np.uint8).reshape(-1, 3)
    assert (d["width"], d["height"]) == (w, h)
    assert d["mean_r"] == arr[:, 0].mean()
    assert d["mean_g"] == arr[:, 1].mean()
    assert d["mean_b"] == arr[:, 2].mean()


def _png_with_filters(img, filters):
    """Build a PNG whose scanlines use the given filter types, applying
    each filter forward per the spec (the test-side reference
    implementation decode_png must invert)."""
    import struct as _s
    import zlib
    h, w, ch = img.shape
    raw = bytearray()
    prev = bytes(w * ch)
    for r, ftype in zip(range(h), filters):
        line = bytes(img[r].reshape(-1))
        enc = bytearray()
        for i in range(len(line)):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            enc.append((line[i] - pred) & 0xFF)
        raw.append(ftype)
        raw.extend(enc)
        prev = line

    def chunk(typ, payload):
        return (_s.pack(">I", len(payload)) + typ + payload +
                _s.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) +
            chunk(b"IDAT", zlib.compress(bytes(raw))) +
            chunk(b"IEND", b""))


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 2**31), w=st.integers(1, 6),
       filters=st.lists(st.integers(0, 4), min_size=1, max_size=6))
def test_png_all_filter_types_decode(seed, w, filters):
    """decode_png must invert every scanline filter type (Sub/Up/
    Average/Paeth applied forward by the test's reference encoder)."""
    import numpy as np
    from cantera_table_spark.functions.multimodal import decode_png
    h = len(filters)
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    d = decode_png(_png_with_filters(img, filters))
    flat = img.reshape(-1, 3)
    assert (d["width"], d["height"]) == (w, h)
    assert d["mean_r"] == flat[:, 0].mean()
    assert d["mean_g"] == flat[:, 1].mean()
    assert d["mean_b"] == flat[:, 2].mean()


@settings(max_examples=25, deadline=None)
@given(vals=st.lists(st.integers(0, 255), min_size=4, max_size=4),
       quality=st.sampled_from([80, 85, 90, 95]))
def test_jpeg_constant_block_exact_law(vals, quality):
    """A 16x16 image of four constant-gray 8x8 blocks round-trips
    EXACTLY through baseline JPEG at quality >= 80: a constant block's
    DCT is DC-only, the DC quantization error is <= q_dc/16 < 0.5 per
    pixel (q_dc <= 6 at quality 80), and gray input pins Cb=Cr=128 so
    the color transform is the identity.  This exactness is the
    contract the mm08 gate's DuckDB oracle relies on."""
    import numpy as np
    from cantera_table_spark.functions.multimodal import (decode_jpeg,
                                                          encode_jpeg)
    img = np.zeros((16, 16, 3), np.uint8)
    img[:8, :8] = vals[0]
    img[:8, 8:] = vals[1]
    img[8:, :8] = vals[2]
    img[8:, 8:] = vals[3]
    d = decode_jpeg(encode_jpeg(img.tobytes(), 16, 16, quality))
    exp = sum(vals) / 4.0
    assert (d["width"], d["height"]) == (16, 16)
    assert d["mean_r"] == exp and d["mean_g"] == exp and d["mean_b"] == exp
    assert np.array_equal(
        np.frombuffer(d["pixels"], np.uint8).reshape(16, 16, 3), img)


@settings(max_examples=15, deadline=None)
@given(seed=st.integers(0, 2**31), w=st.integers(1, 20),
       h=st.integers(1, 20), quality=st.sampled_from([75, 90, 95]))
def test_jpeg_roundtrip_error_bound_law(seed, w, h, quality):
    """Arbitrary-content round-trip error is bounded by the
    quantization bound computed FROM the scaled tables: per plane,
    max pixel error <= max_xy sum_uv |C[u,x]C[v,y]| * q_uv/2; channel
    errors combine through the color transform coefficients, plus 2
    for the two integer roundings.  Odd dimensions exercise the edge
    padding/crop path."""
    import numpy as np
    from cantera_table_spark.functions import multimodal as mm
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    d = mm.decode_jpeg(mm.encode_jpeg(img.tobytes(), w, h, quality))
    assert (d["width"], d["height"]) == (w, h)
    got = np.frombuffer(d["pixels"], np.uint8).reshape(h, w, 3)
    C = mm._JPEG_DCT
    absCC = np.einsum("ux,vy->uvxy", np.abs(C), np.abs(C))

    def plane_bound(q):
        return float(np.max(np.einsum("uvxy,uv->xy", absCC, q / 2.0)))

    by = plane_bound(mm._jpeg_quality_scale(mm._JPEG_QY, quality)
                     .astype(np.float64))
    bc = plane_bound(mm._jpeg_quality_scale(mm._JPEG_QC, quality)
                     .astype(np.float64))
    bound_rgb = np.array([by + 1.402 * bc, by + 1.058272 * bc,
                          by + 1.772 * bc]) + 2.0
    err = np.abs(got.astype(np.int32) - img.astype(np.int32))
    assert (err.max(axis=(0, 1)) <= bound_rgb).all(), \
        (err.max(axis=(0, 1)), bound_rgb)


@settings(max_examples=20, deadline=None)
@given(v=st.integers(0, 255))
def test_jpeg_grayscale_decode_law(v):
    """decode_jpeg's 1-component path (which encode_jpeg never emits):
    a hand-built grayscale JFIF with one constant 8x8 block must decode
    to exactly v in all three reported channel means."""
    import struct as _s
    import numpy as np
    from cantera_table_spark.functions import multimodal as mm
    q = mm._jpeg_quality_scale(mm._JPEG_QY, 90)
    f = np.einsum("ux,xy,vy->uv", mm._JPEG_DCT,
                  np.full((8, 8), float(v) - 128.0), mm._JPEG_DCT)
    zz = np.round(f / q).astype(np.int32).reshape(-1)[mm._JPEG_ZZ]
    dc_tab = mm._huff_codes(*mm._JPEG_HUFF_SPEC[("dc", 0)])
    ac_tab = mm._huff_codes(*mm._JPEG_HUFF_SPEC[("ac", 0)])
    w = mm._BitWriter()
    s, vbits = mm._magnitude(int(zz[0]))
    code, ln = dc_tab[s]
    w.write(code, ln)
    w.write(vbits, s)
    code, ln = ac_tab[0x00]
    w.write(code, ln)

    def seg(marker, payload):
        return _s.pack(">HH", marker, len(payload) + 2) + payload

    data = (b"\xff\xd8" +
            seg(0xFFDB, b"\x00" + q.reshape(-1)[mm._JPEG_ZZ]
                .astype(np.uint8).tobytes()) +
            seg(0xFFC0, _s.pack(">BHHB", 8, 8, 8, 1) +
                bytes([1, 0x11, 0])) +
            seg(0xFFC4, bytes([0x00]) +
                bytes(mm._JPEG_HUFF_SPEC[("dc", 0)][0]) +
                bytes(mm._JPEG_HUFF_SPEC[("dc", 0)][1])) +
            seg(0xFFC4, bytes([0x10]) +
                bytes(mm._JPEG_HUFF_SPEC[("ac", 0)][0]) +
                bytes(mm._JPEG_HUFF_SPEC[("ac", 0)][1])) +
            seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0])) +
            w.flush() + b"\xff\xd9")
    d = mm.decode_jpeg(data)
    assert (d["width"], d["height"]) == (8, 8)
    assert d["mean_r"] == v and d["mean_g"] == v and d["mean_b"] == v


@settings(max_examples=15, deadline=None)
@given(frames=st.lists(st.lists(st.integers(0, 255), min_size=4,
                                max_size=4), min_size=1, max_size=4))
def test_avi_mjpeg_roundtrip_exact_law(frames):
    """Motion-JPEG AVI: constant-block frames survive the RIFF
    container + per-frame JPEG round-trip exactly, in order (the mm09
    gate's oracle contract)."""
    import numpy as np
    from cantera_table_spark.functions.multimodal import (
        decode_avi_mjpeg, encode_avi_mjpeg)

    def blk(vals):
        img = np.zeros((16, 16, 3), np.uint8)
        img[:8, :8] = vals[0]
        img[:8, 8:] = vals[1]
        img[8:, :8] = vals[2]
        img[8:, 8:] = vals[3]
        return img

    imgs = [blk(v) for v in frames]
    d = decode_avi_mjpeg(encode_avi_mjpeg([i.tobytes() for i in imgs],
                                          16, 16))
    assert (d["width"], d["height"], d["n_frames"]) == (16, 16,
                                                        len(frames))
    for fi in range(d["n_frames"]):
        got = np.frombuffer(d["frames"][fi], np.uint8).reshape(16, 16, 3)
        assert np.array_equal(got, imgs[fi])


@settings(max_examples=15, deadline=None)
@given(frames=st.lists(st.lists(st.integers(0, 255), min_size=4,
                                max_size=4), min_size=1, max_size=6),
       gop=st.integers(1, 4))
def test_ipv_roundtrip_exact_law(frames, gop):
    """IPV1 toy I/P codec: constant-block frame sequences survive the
    intra-JPEG + mod-256 wrap-delta P-frame round-trip EXACTLY at any
    gop (the mm10 gate's oracle contract), with the I/P cadence the
    header promises."""
    import numpy as np
    from cantera_table_spark.functions.multimodal import (
        constant_block_frame, decode_ipv, encode_ipv)

    imgs = [constant_block_frame(v) for v in frames]
    d = decode_ipv(encode_ipv(imgs, 16, 16, gop=gop))
    assert (d["width"], d["height"], d["n_frames"],
            d["gop"]) == (16, 16, len(frames), gop)
    assert d["frame_types"] == ["I" if i % gop == 0 else "P"
                                for i in range(len(frames))]
    for fi in range(d["n_frames"]):
        assert d["frames"][fi] == imgs[fi]


def test_ipv_decode_honest_boundaries():
    """Non-IPV payloads (AVI, WAV, noise), truncated records, a
    P-frame with no I-frame reference, unknown frame types, and
    header/stream disagreements all raise ValueError — the single
    quarantine class ipv_frame_stats' narrow catch relies on."""
    import pytest
    from cantera_table_spark.functions.multimodal import (
        constant_block_frame, decode_ipv, encode_avi_mjpeg, encode_ipv,
        encode_wav)

    imgs = [constant_block_frame([i, i, i, i]) for i in (10, 20, 30)]
    data = encode_ipv(imgs, 16, 16, gop=3)
    with pytest.raises(ValueError):
        decode_ipv(encode_avi_mjpeg([imgs[0]], 16, 16))
    with pytest.raises(ValueError):
        decode_ipv(encode_wav([0, 1, 2]))
    with pytest.raises(ValueError):
        decode_ipv(data[:11])
    with pytest.raises(ValueError, match="truncated"):
        decode_ipv(data[:-3])
    # flip the leading I into a P: reconstruction has no reference
    no_ref = bytearray(data)
    assert no_ref[12] == 0x49
    no_ref[12] = 0x50
    with pytest.raises(ValueError, match="reference"):
        decode_ipv(bytes(no_ref))
    # unknown frame type (a motion-compensated B-frame stand-in)
    bframe = bytearray(data)
    bframe[12] = 0x42
    with pytest.raises(ValueError, match="frame type"):
        decode_ipv(bytes(bframe))
    # header frame count disagreeing with the stream
    short = bytearray(data)
    short[8:10] = (5).to_bytes(2, "little")
    with pytest.raises(ValueError, match="count"):
        decode_ipv(bytes(short))
    # the AVI decoder must refuse IPV payloads symmetrically
    from cantera_table_spark.functions.multimodal import decode_avi_mjpeg
    with pytest.raises(ValueError):
        decode_avi_mjpeg(data)
    # the encode side belongs to the same quarantine class: values that
    # overflow the <HHHH u16 header must be ValueError, not struct.error
    with pytest.raises(ValueError, match="u16"):
        encode_ipv(imgs, 16, 16, gop=0x10000)
    with pytest.raises(ValueError, match="u16"):
        encode_ipv([b"\0" * (0x10000 * 16 * 3)], 0x10000, 16)


def test_avi_decode_honest_boundaries():
    """Non-AVI RIFFs (e.g. a WAV), truncated containers, and streams
    whose frame chunks are not JPEG all raise ValueError."""
    import pytest
    import numpy as np
    from cantera_table_spark.functions.multimodal import (
        decode_avi_mjpeg, encode_avi_mjpeg, encode_wav)
    avi = encode_avi_mjpeg([bytes(16 * 16 * 3)], 16, 16)
    with pytest.raises(ValueError):
        decode_avi_mjpeg(encode_wav([0, 1, 2]))
    with pytest.raises(ValueError):
        decode_avi_mjpeg(avi[:30])
    # corrupt every frame chunk's JPEG magic: the per-frame decoder
    # must refuse rather than fabricate pixels
    broken = avi.replace(b"\xff\xd8\xff", b"\x00\x00\x00")
    with pytest.raises(ValueError):
        decode_avi_mjpeg(broken)


def test_jpeg_decode_honest_boundaries():
    """Progressive scans, truncated payloads, non-JPEG bytes,
    unsupported component counts (2-channel / CMYK), zero pixel
    dimensions, and corrupt entropy streams all raise ValueError — the
    single quarantine class decode_images' narrow catch relies on."""
    import pytest
    from cantera_table_spark.functions.multimodal import (decode_jpeg,
                                                          encode_jpeg)
    data = encode_jpeg(bytes(range(192)), 8, 8, 90)
    progressive = data.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        decode_jpeg(progressive)
    with pytest.raises(ValueError):
        decode_jpeg(data[:20])
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    # 2-component scan: patch the SOS component count
    sos = data.index(b"\xff\xda")
    two_comp = bytearray(data)
    two_comp[sos + 4] = 2
    with pytest.raises(ValueError, match="component count"):
        decode_jpeg(bytes(two_comp))
    # zero-height SOF
    sof = data.index(b"\xff\xc0")
    zero_h = bytearray(data)
    zero_h[sof + 5:sof + 7] = b"\x00\x00"
    with pytest.raises(ValueError, match="zero pixel"):
        decode_jpeg(bytes(zero_h))
    # 12-bit sample precision (valid per spec, unsupported here): must
    # raise, not silently decode 8-bit DQTs against 12-bit samples
    twelve_bit = bytearray(data)
    twelve_bit[sof + 4] = 12
    with pytest.raises(ValueError, match="precision"):
        decode_jpeg(bytes(twelve_bit))
    # truncated SOF body (length field shorter than the fixed header):
    # unpack_from's struct.error must normalize to ValueError too
    short_sof = bytearray(data)
    short_sof[sof + 2:sof + 4] = b"\x00\x04"
    with pytest.raises(ValueError):
        decode_jpeg(bytes(short_sof))
    # corrupt entropy must either decode to garbage pixels (any JPEG
    # decoder's contract for valid-looking garbage) or raise ValueError
    # — never leak the Huffman machine's Index/KeyError past the
    # normalization boundary
    for seed in range(8):
        garbled = bytearray(data)
        for i in range(sos + 14, len(garbled) - 2):
            garbled[i] = (garbled[i] * 37 + 11 * (seed + 1)) % 251
        try:
            decode_jpeg(bytes(garbled))
        except ValueError:
            pass


@settings(max_examples=25, deadline=None)
@given(samples=st.lists(st.integers(-32768, 32767), min_size=1,
                        max_size=200),
       rate=st.sampled_from([8000, 16000, 44100]))
def test_wav_roundtrip_law(samples, rate):
    """decode_wav reads a stdlib-written mono WAV at any sample rate;
    encode_wav writes exactly that file at its 8 kHz."""
    import io
    import wave
    import numpy as np
    from cantera_table_spark.functions.multimodal import (decode_wav,
                                                          encode_wav)

    def wav(rate):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
        return buf.getvalue()

    assert encode_wav(samples) == wav(8000)
    d = decode_wav(wav(rate))
    assert d["n_channels"] == 1 and d["sample_rate"] == rate
    assert d["n_frames"] == len(samples)
    assert d["mean_abs"] == float(
        np.abs(np.array(samples, dtype=np.int64)).mean())


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(st.integers(0, 50),
                               st.floats(0, 10, allow_nan=False)),
                     min_size=0, max_size=120))
def test_global_row_number_law(spark, rows):
    """global_row_number == the single-task row_number for any input
    (including duplicates and empty), under a total order."""
    from cantera_table_spark.operators.ordering import global_row_number
    from pyspark.sql import functions as F
    df = spark.createDataFrame(rows, "doc_id long, score double") \
        if rows else spark.createDataFrame([], "doc_id long, score double")
    got = sorted((r.doc_id, r.score, r["__rn"]) for r in global_row_number(
        df, F.col("score").desc(), F.col("doc_id").asc()).collect())
    expect_order = sorted(rows, key=lambda p: (-p[1], p[0]))
    # equal (doc,score) rows may number arbitrarily among themselves —
    # compare the multiset of (row, rank-bucket) via sorted sequences
    got_ranks = [g[2] for g in sorted(
        got, key=lambda g: (-g[1], g[0], g[2]))]
    assert got_ranks == list(range(1, len(rows) + 1))
    # strict check on rows with unique keys
    uniq = {k for k in rows if rows.count(k) == 1}
    pos = {k: i + 1 for i, k in enumerate(expect_order)}
    for (d, s, rn) in got:
        if (d, s) in uniq:
            assert rn == pos[(d, s)]


_WORDS = st.lists(st.sampled_from("alpha beta gamma delta eps".split()),
                  min_size=0, max_size=12)


@pytest.mark.slow
@given(_WORDS)
@settings(max_examples=10, deadline=None)
def test_repetition_fracs_bounded_law(spark, words):
    """All repetition fractions live in [0, 1]; a doc of one repeated
    token has dup_token_frac (n-1)/n and top fractions 1."""
    from cantera_table_spark.functions.text import with_repetition_stats
    d = spark.createDataFrame([(1, " ".join(words))],
                              "doc_id long, text string")
    r = with_repetition_stats(d).collect()[0]
    for v in (r.dup_token_frac, r.top_bigram_frac, r.top_trigram_frac):
        assert 0.0 <= v <= 1.0
    n = len(words)
    if n >= 3 and len(set(words)) == 1:
        assert r.dup_token_frac == round((n - 1) / n, 6)
        assert r.top_bigram_frac == 1.0 and r.top_trigram_frac == 1.0


@given(st.text(alphabet="abc @.0123456789+", max_size=40))
@settings(max_examples=15, deadline=None)
def test_pii_scrub_idempotent_law(spark, s):
    """Scrubbing is idempotent: placeholders never re-match a pattern."""
    from cantera_table_spark.functions.text import scrub_pii
    d = spark.createDataFrame([(1, s)], "doc_id long, text string")
    once = scrub_pii(d)
    twice = scrub_pii(once.select(
        "doc_id", once.text_clean.alias("text"))).collect()[0]
    assert twice.text == twice.text_clean


def test_decontaminate_self_is_total(spark):
    """Decontaminating a set against itself flags every doc that has at
    least one shingle (n tokens or more)."""
    from cantera_table_spark.functions.dedup import decontaminate
    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g"), (3, "x")],
        "doc_id long, text string")
    out = {r.doc_id: r.contaminated
           for r in decontaminate(d, d, n=3).collect()}
    assert out == {1: True, 2: True, 3: False}


def test_stratified_sample_is_prefix_stable(spark):
    """Adding rows to one stratum never reorders another stratum's
    sample (hash order is global, not partition-relative)."""
    from cantera_table_spark.functions.sampling import stratified_sample
    base = [(i, "en" if i % 2 else "de") for i in range(40)]
    d1 = spark.createDataFrame(base, "doc_id long, lang string")
    d2 = spark.createDataFrame(base + [(100 + i, "fr") for i in range(10)],
                               "doc_id long, lang string")
    s1 = {(r.lang, r.doc_id, r.sample_rank)
          for r in stratified_sample(d1, "lang", 5).collect()}
    s2 = {(r.lang, r.doc_id, r.sample_rank)
          for r in stratified_sample(d2, "lang", 5).collect()
          if r.lang != "fr"}
    assert s1 == s2


@given(st.integers(1, 6), st.integers(1, 5), st.integers(1, 4),
       st.binary(min_size=1, max_size=16))
@settings(max_examples=25, deadline=None)
def test_gif_roundtrip_law(w, h, n_frames, seed):
    """decode(encode(frames)) recovers every index exactly through the
    real LZW round-trip and greyscale palette."""
    from cantera_table_spark.functions.multimodal import (
        decode_gif, encode_gif)
    npx = w * h
    frames = [bytes((seed[(f + i) % len(seed)] + f) % 256
                    for i in range(npx)) for f in range(n_frames)]
    d = decode_gif(encode_gif(frames, w, h))
    assert (d["width"], d["height"], d["n_frames"]) == (w, h, n_frames)
    for f in range(n_frames):
        rgb = d["frames"][f]
        assert len(rgb) == npx * 3
        for i in range(npx):
            v = frames[f][i]
            assert rgb[3 * i:3 * i + 3] == bytes((v, v, v))


@given(st.lists(st.integers(0, 255), min_size=0, max_size=3000))
@settings(max_examples=30, deadline=None)
def test_lzw_roundtrip_law(idx):
    from cantera_table_spark.functions.multimodal import (
        _lzw_decode, _lzw_encode)
    data = bytes(idx)
    assert _lzw_decode(_lzw_encode(data, 8), 8, len(data)) == data


events_strategy = st.lists(
    st.tuples(st.integers(0, 5),          # user
              st.integers(0, 50),         # ts (seconds)
              st.integers(0, 3)),         # stage idx (3 = noise)
    max_size=30)


@settings(max_examples=8, deadline=None)
@given(evs=events_strategy)
def test_funnel_ordering_laws(spark, evs):
    """Laws of the single-pass funnel fold, any event stream:
    (1) depth = number of defined stage timestamps, in 1..n;
    (2) defined stage timestamps are strictly increasing;
    (3) stage k defined implies stage k-1 defined;
    (4) stage_0_ts is the user's minimum stage-0 timestamp;
    (5) exactly the users with a stage-0 event appear."""
    from pyspark.sql import functions as F

    from cantera_table_spark.functions.timeseries import funnel
    stages = ["s0", "s1", "s2"]
    df = spark.createDataFrame(
        [(u, t, (stages + ["noise"])[k]) for u, t, k in evs] or [],
        "user_id long, tsec long, event_type string") \
        .select("user_id", F.col("tsec").cast("timestamp").alias("ts"),
                "event_type")
    out = {r.user_id: r for r in funnel(df, stages).collect()}
    want_users = {u for u, t, k in evs if k == 0}
    assert set(out) == want_users
    for u, r in out.items():
        ts_list = [r.stage_0_ts, r.stage_1_ts, r.stage_2_ts]
        defined = [t for t in ts_list if t is not None]
        assert r.funnel_depth == len(defined) >= 1
        assert all(a < b for a, b in zip(defined, defined[1:]))
        for k in range(1, 3):
            if ts_list[k] is not None:
                assert ts_list[k - 1] is not None
        min_s0 = min(t for uu, t, k in evs if uu == u and k == 0)
        assert int(r.stage_0_ts.timestamp()) == min_s0


@settings(max_examples=8, deadline=None)
@given(evs=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 40)),
                    max_size=25))
def test_retention_cohort_laws(spark, evs):
    """Retention matrix laws: the periods_since=0 diagonal counts every
    active user exactly once (each user belongs to one cohort), and
    total cell mass equals the distinct (user, period) activity."""
    from pyspark.sql import functions as F

    from cantera_table_spark.functions.timeseries import retention_cohorts
    df = spark.createDataFrame(
        [(u, d * 86400) for u, d in evs] or [],
        "user_id long, tsec long") \
        .select("user_id", F.col("tsec").cast("timestamp").alias("ts"))
    cells = retention_cohorts(df, period_days=7).collect()
    users = {u for u, d in evs}
    acts = {(u, d // 7) for u, d in evs}
    assert sum(c.n_active for c in cells if c.periods_since == 0) == \
        len(users)
    assert sum(c.n_active for c in cells) == len(acts)
    assert all(c.periods_since >= 0 for c in cells)


@pytest.mark.slow
@settings(max_examples=4, deadline=None)
@given(mult=st.lists(st.integers(1, 3), min_size=3, max_size=3))
def test_near_dup_clusters_clone_count_invariance_law(spark, mult):
    """Cloning any document (with HIGHER ids) never changes the
    canonical assignment of the originals, and every clone maps to its
    original's canonical — the exact-collapse equivalence argument as
    a law over random clone multiplicities."""
    from cantera_table_spark.functions.dedup import near_dup_clusters
    texts = ["the quick brown fox jumps over the lazy dog again",
             "the quick brown fox jumps over the lazy dog anew",
             "completely unrelated words about parquet shuffles here"]
    rows = [(i, t) for i, t in enumerate(texts)]
    base_docs = spark.createDataFrame(rows, "doc_id long, text string")
    cloned = list(rows)
    nxt = 100
    for i, m in enumerate(mult):
        for _ in range(m - 1):
            cloned.append((nxt, texts[i]))
            nxt += 1
    cdf = spark.createDataFrame(cloned, "doc_id long, text string")
    with CacheScope() as caches:
        base = {r.doc_id: r.canonical_id
                for r in near_dup_clusters(base_docs, min_jaccard=0.5,
                                           caches=caches).collect()}
        got = {r.doc_id: r.canonical_id
               for r in near_dup_clusters(cdf, min_jaccard=0.5,
                                          caches=caches).collect()}
    orig_of = {d: t for d, t in cloned}
    canon_of_text = {texts[i]: base[i] for i in range(3)}
    assert len(got) == len(cloned)
    for d, _t in cloned:
        assert got[d] == canon_of_text[orig_of[d]], (d, got[d])


# --- temporal join laws (round 4) -----------------------------------

_events = st.lists(
    st.tuples(st.integers(0, 3),            # key
              st.integers(0, 40),           # minutes offset
              st.integers(0, 9)),           # payload
    max_size=10)

# right-side payloads may be NULL: ties at the matched timestamp must
# resolve to a real payload when one exists (both directions)
_events_nullable = st.lists(
    st.tuples(st.integers(0, 3),
              st.integers(0, 40),
              st.one_of(st.none(), st.integers(0, 9))),
    max_size=10)


def _ts_df(spark, rows, schema):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    out = [(k, base + dt.timedelta(minutes=m),
            None if v is None else float(v))
           for k, m, v in rows]
    return spark.createDataFrame(out or [], schema)


@settings(max_examples=10, deadline=None)
@given(l=_events, r=_events_nullable,
       direction=st.sampled_from(["backward", "forward"]))
@pytest.mark.slow
def test_asof_join_matches_nested_loop_model(spark, l, r, direction):
    from cantera_table_spark.functions.timeseries import asof_join
    left = _ts_df(spark, [(k, m, float(i)) for i, (k, m, _) in
                          enumerate(l)],
                  "user_id long, ts timestamp, eid double")
    right = _ts_df(spark, r, "user_id long, ts timestamp, value double")
    got = {r_["eid"]: (r_["r_ts"], r_["r_value"]) for r_ in
           asof_join(left, right, key_col="user_id", ts_col="ts",
                     value_cols=("value",),
                     direction=direction).collect()}
    lrows = [tuple(x) for x in left.collect()]
    rrows = [tuple(x) for x in right.collect()]
    assert len(got) == len(lrows)
    for (k, ts, eid) in lrows:
        cands = []
        for (rk, rts, rv) in rrows:
            if rk != k:
                continue
            if rts <= ts if direction == "backward" else rts >= ts:
                cands.append((rts, rv))
        if not cands:
            assert got[eid] == (None, None)
            continue
        # nearest timestamp wins; among ties a real payload beats NULL
        # (SQL max/min-skip-NULL), then max (backward) / min (forward)
        # of the real payloads; all-NULL ties yield a NULL payload
        best_ts = (max if direction == "backward" else min)(
            t for t, _ in cands)
        tied = [v for t, v in cands if t == best_ts]
        real = [v for v in tied if v is not None]
        want_v = ((max(real) if direction == "backward" else min(real))
                  if real else None)
        assert got[eid] == (best_ts, want_v)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(p=_events, iv=_events, width=st.sampled_from([60, 300, 3600]))
def test_interval_join_matches_cross_filter(spark, p, iv, width):
    import datetime as dt
    from pyspark.sql import functions as F
    from cantera_table_spark.functions.timeseries import interval_join
    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, k, base + dt.timedelta(minutes=m))
         for i, (k, m, _) in enumerate(p)] or [],
        "pid long, user_id long, ts timestamp")
    ivs = spark.createDataFrame(
        [(i, k, base + dt.timedelta(minutes=m),
          base + dt.timedelta(minutes=m + v * 7))   # v=0 -> degenerate
         for i, (k, m, v) in enumerate(iv)] or [],
        "iid long, user_id long, s timestamp, e timestamp")
    got = sorted((r.pid, r.iid) for r in interval_join(
        pts, ivs, ts_col="ts", start_col="s", end_col="e",
        key_col="user_id", bin_width_s=width).collect())
    want = sorted((r.pid, r.iid) for r in
                  pts.crossJoin(ivs.withColumnRenamed("user_id", "u2"))
                  .filter((F.col("user_id") == F.col("u2")) &
                          (F.col("s") <= F.col("ts")) &
                          (F.col("ts") < F.col("e"))).collect())
    assert got == want


_bm25_postings = st.lists(
    st.tuples(st.sampled_from(["t0", "t1", "t2"]),
              st.integers(0, 10),
              st.integers(1, 5)),
    min_size=1, max_size=40,
).map(lambda v: sorted({(k, d): tf for k, d, tf in v}.items()))


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(p=_bm25_postings)
def test_bm25_matches_model(spark, p):
    """Okapi BM25 (retrieval.py) vs the textbook formula computed in
    plain Python over the same (keyword, doc, tf) table: idf uses the
    +1-inside-the-log variant, dl the per-doc tf sum, avgdl the corpus
    mean.  Spark rounds to 6 decimals; assert within 1e-6."""
    import math

    from cantera_table_spark.functions.retrieval import bm25_scores

    k1, b = 1.2, 0.75
    tf_of = {kd: tf for kd, tf in p}
    dl = {}
    dfreq = {}
    for (k, d), tf in tf_of.items():
        dl[d] = dl.get(d, 0) + tf
        dfreq[k] = dfreq.get(k, 0) + 1
    n_docs = float(len(dl))
    avgdl = sum(dl.values()) / n_docs
    want = {}
    for (k, d), tf in tf_of.items():
        idf = math.log((n_docs - dfreq[k] + 0.5) / (dfreq[k] + 0.5) + 1)
        want[(k, d)] = (idf * tf * (k1 + 1) /
                        (tf + k1 * (1 - b + b * dl[d] / avgdl)))
    pdf = spark.createDataFrame(
        [(k, int(d), float(tf)) for (k, d), tf in p],
        "keyword string, doc_id long, score double")
    got = {(r.keyword, r.doc_id): r.bm25
           for r in bm25_scores(pdf).collect()}
    assert got.keys() == want.keys()
    for kd, v in want.items():
        assert abs(got[kd] - v) <= 1e-6, (kd, got[kd], v)


_ranked_list = st.lists(st.integers(0, 12), min_size=1, max_size=8,
                        unique=True)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(lists_=st.lists(_ranked_list, min_size=1, max_size=3))
def test_rrf_matches_model(spark, lists_):
    """Reciprocal-rank fusion vs the plain-Python sum of 1/(k+rank),
    with the (rrf desc, doc_id asc) re-rank order."""
    from cantera_table_spark.functions.retrieval import rrf_fuse

    k = 60
    ranked = {}
    want = {}
    for i, ids in enumerate(lists_):
        ranked[f"l{i}"] = spark.createDataFrame(
            [(int(d), r) for r, d in enumerate(ids, start=1)],
            "doc_id long, rank long")
        for r, d in enumerate(ids, start=1):
            want[d] = want.get(d, 0.0) + 1.0 / (k + r)
    order = sorted(want, key=lambda d: (-round(want[d], 6), d))
    got = {r.doc_id: r for r in rrf_fuse(ranked, k=k).collect()}
    assert got.keys() == want.keys()
    for d, v in want.items():
        assert abs(got[d].rrf - v) <= 1e-6, (d, got[d].rrf, v)
    assert [d for d in order] == \
        [d for d, _ in sorted(((r.doc_id, r.fused_rank)
                               for r in got.values()),
                              key=lambda t: t[1])]


@settings(max_examples=8, deadline=None)
@given(docs_=st.lists(
    st.tuples(st.sampled_from(["s0", "s1", "s2"]),
              st.integers(0, 40),
              st.integers(0, 9)),
    min_size=1, max_size=30,
).map(lambda v: list({d: (s, d, nt) for s, d, nt in v}.values())),
    budget=st.integers(1, 60))
@pytest.mark.slow
def test_mixture_sample_coarse_equals_naive_law(spark, docs_, budget):
    """The coarse two-phase cumsum (bucket offsets + boundary-bucket
    refinement) must admit EXACTLY the docs the naive per-stratum
    running sum admits, for any stratum layout, token counts (zeros
    included), and budget — the fixed-fixture equivalence test, made
    adversarial."""
    from cantera_table_spark.functions.sampling import mixture_sample
    from tests.mixture_ref import naive_mixture_sample

    df = spark.createDataFrame(
        [(s, int(d), " ".join(["w"] * nt)) for s, d, nt in docs_],
        "source string, doc_id long, text string")
    w = {"s0": 2.0, "s1": 1.0}
    a = sorted(tuple(r) for r in mixture_sample(
        df, w, total_tokens=budget).collect())
    b = sorted(tuple(r) for r in naive_mixture_sample(
        df, w, total_tokens=budget).collect())
    assert a == b


@settings(max_examples=6, deadline=None)
@given(docs_=st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
             min_size=0, max_size=14),
    min_size=2, max_size=8),
    n=st.integers(2, 4))
@pytest.mark.slow
def test_cut_spans_conserves_uncovered_tokens_law(spark, docs_, n):
    """Cross-operator conservation: cut_repeated_spans must keep
    EXACTLY n_tokens - (covered tokens) per document, where covered
    tokens is repeated_spans' merged-span total (the merge rule makes
    span length equal the union of covered positions).  Documents
    shorter than n keep everything."""
    from cantera_table_spark.functions.dedup import (cut_repeated_spans,
                                                     repeated_spans)
    d = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs_)],
        "doc_id long, text string")
    spans = {r.doc_id: r for r in repeated_spans(d, n=n,
                                                 min_docs=2).collect()}
    kept = {r.doc_id: r.n_kept for r in cut_repeated_spans(
        d, n=n, min_docs=2).collect()}
    for i, toks in enumerate(docs_):
        if len(toks) >= n:
            r = spans[i]
            covered = round(r.repeated_token_frac * r.n_tokens)
            assert kept[i] == r.n_tokens - covered, (i, kept[i], r)
        else:
            assert kept[i] == len(toks)
