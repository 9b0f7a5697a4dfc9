"""Image codec kernels (VERDICT r01 item 2): PNG/JPEG round trips, resize
and normalization goldens, and real width/height through multimodal
metadata."""

import numpy as np
import pytest

from ocr_spark.kernels import imagecodec as ic


def _grad(h, w, c=3):
    yy, xx = np.mgrid[0:h, 0:w]
    if c == 1:
        return ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    return np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, (yy + xx) % 256], axis=-1
    ).astype(np.uint8)


# -- PNG --------------------------------------------------------------------

@pytest.mark.parametrize("shape", [(5, 7), (16, 16, 3), (9, 4, 4), (1, 1), (3, 2, 3)])
def test_png_lossless_round_trip(shape):
    rng = np.random.RandomState(hash(shape) % 2**31)
    img = rng.randint(0, 256, size=shape, dtype=np.uint8)
    back = ic.png_decode(ic.png_encode(img))
    assert back.shape == img.shape
    assert (back == img).all()


def test_png_all_filters_decode():
    """Rows encoded with Sub/Up/Average/Paeth (not just filter 0) must
    decode — exercised by re-filtering a known image by hand."""
    import struct
    import zlib

    img = _grad(8, 8)
    h, w, bpp = 8, 8, 3
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for r in range(h):
        row = img[r].reshape(-1).astype(np.int32)
        ftype = [0, 1, 2, 3, 4][r % 5]
        enc = row.copy()
        if ftype == 1:
            enc[bpp:] = (row[bpp:] - row[:-bpp]) % 256
        elif ftype == 2:
            enc = (row - prev) % 256
        elif ftype == 3:
            for i in range(w * bpp):
                left = row[i - bpp] if i >= bpp else 0
                enc[i] = (row[i] - ((left + prev[i]) >> 1)) % 256
        elif ftype == 4:
            for i in range(w * bpp):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (row[i] - pred) % 256
        raw.append(ftype)
        raw += enc.astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + ic._png_chunk(b"IHDR", ihdr)
        + ic._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + ic._png_chunk(b"IEND", b"")
    )
    assert (ic.png_decode(blob) == img).all()


def test_png_palette():
    import struct
    import zlib

    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(2))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + ic._png_chunk(b"IHDR", ihdr)
        + ic._png_chunk(b"PLTE", palette.tobytes())
        + ic._png_chunk(b"IDAT", zlib.compress(raw))
        + ic._png_chunk(b"IEND", b"")
    )
    out = ic.png_decode(blob)
    assert out.shape == (2, 2, 3)
    assert (out[0, 0] == [255, 0, 0]).all() and (out[1, 0] == [0, 0, 255]).all()


# -- JPEG -------------------------------------------------------------------

def test_jpeg_round_trip_color_and_gray():
    img = _grad(48, 64)
    back = ic.jpeg_decode(ic.jpeg_encode(img, quality=90))
    assert back.shape == img.shape
    assert np.abs(back.astype(float) - img.astype(float)).mean() < 2.0

    gray = _grad(24, 40, c=1)
    gback = ic.jpeg_decode(ic.jpeg_encode(gray, quality=90))
    assert gback.shape == gray.shape
    assert np.abs(gback.astype(float) - gray.astype(float)).mean() < 2.0


def test_jpeg_non_multiple_of_8_dims():
    img = _grad(13, 21)
    back = ic.jpeg_decode(ic.jpeg_encode(img, quality=95))
    assert back.shape == (13, 21, 3)
    assert np.abs(back.astype(float) - img.astype(float)).mean() < 3.0


def test_jpeg_rejects_junk_and_masqueraded_sof2():
    with pytest.raises(ic.CodecError):
        ic.jpeg_decode(b"not a jpeg")
    blob = bytearray(ic.jpeg_encode(_grad(8, 8)))
    i = blob.find(b"\xff\xc0")
    blob[i + 1] = 0xC2  # baseline scan masquerading as progressive:
    # its SOS band (Ss=0, Se=63) is illegal for a SOF2 DC scan
    with pytest.raises(ic.CodecError):
        ic.jpeg_decode(bytes(blob))


# -- resize / normalize goldens --------------------------------------------

def test_resize_pad_reference_semantics():
    """ratio = min(out/in), int-truncated intermediate, pad after."""
    img = np.ones((10, 20, 3)) * 100.0
    out = ic.resize_pad_image(img, (8, 8), pad_value=0.0, pad_mode="after")
    assert out.shape == (8, 8, 3)
    # ratio = min(8/10, 8/20) = 0.4 -> intermediate (4, 8); rows 4.. padded
    assert (out[:4] == 100.0).all()
    assert (out[4:] == 0.0).all()
    even = ic.resize_pad_image(img, (8, 8), pad_mode="even")
    assert (even[:2] == 0.0).all() and (even[2:6] == 100.0).all() and (even[6:] == 0.0).all()


def test_resize_bilinear_pinned():
    img = np.array([[0.0, 100.0], [100.0, 200.0]])[:, :, None]
    out = ic.resize_bilinear(img, 4, 4)[:, :, 0]
    pinned = np.array(
        [
            [0.0, 25.0, 75.0, 100.0],
            [25.0, 50.0, 100.0, 125.0],
            [75.0, 100.0, 150.0, 175.0],
            [100.0, 125.0, 175.0, 200.0],
        ]
    )
    np.testing.assert_allclose(out, pinned, atol=1e-9)


def test_normalize_schemes_pinned():
    img = np.array([[[0.0, 0.5, 1.0]]])
    np.testing.assert_allclose(
        ic.normalize_image(img, "east"), [[[-1.0, 0.0, 1.0]]], atol=1e-12
    )
    np.testing.assert_allclose(
        ic.normalize_image(img, "tanh"), [[[-1.0, 0.0, 1.0]]], atol=1e-12
    )
    np.testing.assert_allclose(
        ic.normalize_image(img, "01"), [[[0.0, 0.5, 1.0]]], atol=1e-12
    )
    clip = ic.normalize_image(img, "clip")
    np.testing.assert_allclose(
        clip[0, 0, 0], (0.0 - 0.48145466) / 0.26862954, atol=1e-9
    )
    n = ic.normalize_image(np.array([[1.0, 3.0]]), "normal")
    np.testing.assert_allclose(n, [[-1.0, 1.0]], atol=1e-12)


# -- through the Spark multimodal operator ----------------------------------

def test_blob_metadata_real_dims(spark):
    from ocr_spark.operators.multimodal import blob_metadata

    png = ic.png_encode(_grad(17, 23))
    jpg = ic.jpeg_encode(_grad(9, 31), quality=90)
    rows = [(1, bytearray(png)), (2, bytearray(jpg)), (3, b"opaque-bytes")]
    df = spark.createDataFrame(rows, "blob_id long, blob binary")
    got = {r.blob_id: r for r in blob_metadata(df).collect()}
    assert (got[1].kind, got[1].height, got[1].width) == ("png", 17, 23)
    assert (got[2].kind, got[2].height, got[2].width) == ("jpeg", 9, 31)
    assert got[3].kind == "unknown" and got[3].height == 8  # fake_decode dims


def test_decode_image_boundary():
    from ocr_spark.operators.multimodal import decode_image

    img = _grad(6, 6)
    assert (decode_image(ic.png_encode(img)) == img).all()
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF....WEBP")


def test_jpeg_decoder_never_hangs_on_fuzz():
    """Random, truncated, and bit-flipped JPEG bytes must either decode or
    raise CodecError quickly — never hang or corrupt state."""
    import time

    rng = np.random.RandomState(123)
    base = ic.jpeg_encode(_grad(24, 32), quality=80)
    t0 = time.time()
    for i in range(60):
        k = i % 3
        if k == 0:
            blob = bytes(rng.randint(0, 256, rng.randint(4, 400), dtype=np.uint8))
        elif k == 1:
            blob = base[: rng.randint(2, len(base))]
        else:
            b = bytearray(base)
            for _ in range(5):
                b[rng.randint(2, len(b))] ^= 1 << rng.randint(0, 8)
            blob = bytes(b)
        try:
            ic.jpeg_decode(blob)
        except Exception:
            pass
    assert time.time() - t0 < 30


def test_png_decoder_never_hangs_on_fuzz():
    rng = np.random.RandomState(321)
    base = ic.png_encode(_grad(16, 16))
    for i in range(60):
        if i % 2 == 0:
            blob = base[: rng.randint(8, len(base))]
        else:
            b = bytearray(base)
            b[rng.randint(8, len(b))] ^= 0xFF
            blob = bytes(b)
        try:
            ic.png_decode(blob)
        except Exception:
            pass


_PNG_16 = ic.png_encode(_grad(16, 16))


def _palette_png(rows: bytes, palette: bytes) -> bytes:
    """A 2x2 palette PNG with the given (filter-byte-prefixed) rows."""
    import struct
    import zlib

    return (
        b"\x89PNG\r\n\x1a\n"
        + ic._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + ic._png_chunk(b"PLTE", palette)
        + ic._png_chunk(b"IDAT", zlib.compress(rows))
        + ic._png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize(
    "probe, blob",
    [
        ("png_decode", _PNG_16[:20]),  # IHDR cut short
        ("png_decode", _PNG_16[:30]),  # no IDAT
        ("png_decode", _PNG_16[:40]),  # IDAT cut short
        ("png_decode", _palette_png(b"\x00\x00\x01", bytes(6))),  # one row of two
        ("png_decode", _palette_png(b"\x00\x00\x01\x00\x01\x02", bytes(5))),  # PLTE cut
        ("png_decode", _palette_png(b"\x00\x00\x01\x00\x01\x02", bytes(6))),  # index 2 of 2
        ("jpeg_dimensions", b"\xff\xd8\xff\xc0\x00\x11\x08"),  # SOF cut short
    ],
    ids=["png_20", "png_30", "png_40", "short_idat", "short_plte", "palette_index", "jpeg_sof_7"],
)
def test_malformed_image_raises_codec_error(probe, blob):
    """A cut-off or inconsistent file raises CodecError, the one class the
    image route records, not the struct, zlib, index or numpy error of the
    read that ran short."""
    with pytest.raises(ic.CodecError):
        getattr(ic, probe)(blob)


def test_jpeg_implausible_dimensions_rejected():
    """A corrupt header claiming 60000x60000 must raise, not allocate GBs
    and spin 56M python iterations (self-review find)."""
    import struct

    blob = bytearray(ic.jpeg_encode(_grad(16, 16), quality=80))
    i = blob.find(b"\xff\xc0")
    blob[i + 5 : i + 9] = struct.pack(">HH", 60000, 60000)
    with pytest.raises(ic.CodecError, match="implausible"):
        ic.jpeg_decode(bytes(blob))


def test_jpeg_truncated_scan_raises_not_garbage():
    blob = ic.jpeg_encode(_grad(64, 64), quality=90)
    sos = blob.find(b"\xff\xda")
    cut = blob[: sos + 200]  # keep header, tear most of the scan
    with pytest.raises(ic.CodecError):
        ic.jpeg_decode(cut)


def test_jpeg_encoder_dqt_is_zigzag_ordered():
    """The DQT segment serializes in zigzag order per the spec — a natural-
    order table misweights frequencies for any conforming decoder."""
    blob = ic.jpeg_encode(_grad(8, 8), quality=50)
    i = blob.find(b"\xff\xdb")
    payload = blob[i + 5 : i + 5 + 64]
    expected = ic._QT_LUMA[ic._ZIGZAG]  # quality 50 = table as-is
    assert list(payload) == [int(v) for v in expected]


# -- progressive JPEG (SOF2) ------------------------------------------------

def test_progressive_matches_baseline_reconstruction():
    """The progressive encoder quantizes to the SAME coefficients as the
    baseline encoder, so decode(progressive) must be pixel-identical to
    decode(baseline) — every scan type in the script (interleaved DC
    first Al=1, DC refine, AC spectral bands at Al=1, AC refine) has to
    reconstruct exactly for this to hold."""
    for img in (_grad(24, 17), _grad(8, 8), _grad(40, 33)):
        base = ic.jpeg_decode(ic.jpeg_encode(img, quality=85))
        prog = ic.jpeg_decode(ic.jpeg_encode_progressive(img, quality=85))
        assert np.array_equal(base, prog)


def test_progressive_grayscale_and_qualities():
    g = _grad(19, 26)[..., 0] if _grad(19, 26).ndim == 3 else _grad(19, 26)
    g = np.asarray(g, dtype=np.uint8)
    for q in (50, 85, 95):
        base = ic.jpeg_decode(ic.jpeg_encode(g, quality=q))
        prog = ic.jpeg_decode(ic.jpeg_encode_progressive(g, quality=q))
        assert np.array_equal(base, prog)


def test_progressive_truncated_raises():
    blob = ic.jpeg_encode_progressive(_grad(24, 24))
    with pytest.raises(ic.CodecError):
        ic.jpeg_decode(blob[: len(blob) // 2] + b"\xff\xd9")


def test_progressive_eobrun_multi_block():
    """Handcrafted single-component progressive stream whose AC scan uses
    EOBRUN > 1 (EOB2 covering four 8x8 blocks) through a custom DHT that
    defines the EOBn symbol Annex K lacks — pins the decoder's EOB-run
    accounting, which the in-repo encoder never exercises (it emits EOB0
    only)."""
    import struct

    h = w = 16  # 2x2 blocks, one component
    # DC table: symbols 0..3 (categories); AC table: EOB2 (0x20) + one
    # real coef symbol (0x01) + ZRL, all short canonical codes
    dc_bits = [0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = [0, 1, 2, 3]
    ac_bits = [0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_vals = [0x00, 0x20, 0x01]  # EOB0, EOB2, (run 0, size 1)
    enc_dc = ic._build_huffman_encode(dc_bits, dc_vals)
    enc_ac = ic._build_huffman_encode(ac_bits, ac_vals)

    out = bytearray(b"\xff\xd8")
    q = bytes([0]) + bytes([1] * 64)  # identity quantizer
    out += b"\xff\xdb" + struct.pack(">H", len(q) + 2) + q
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        p = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(p) + 2) + p

    def sos(specs, ss, se, ah, al):
        s = bytes([len(specs)])
        for cid, td, ta in specs:
            s += bytes([cid, (td << 4) | ta])
        s += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(s) + 2) + s

    # DC scan (Al=0): DC values 2, 2, 2, 2 -> diffs 2, 0, 0, 0
    out += sos([(1, 0, 0)], 0, 0, 0, 0)
    wtr = ic._BitWriter()
    ln, code = enc_dc[2]
    wtr.write(ln, code)
    wtr.write(2, 2)  # value bits for +2
    for _ in range(3):
        ln, code = enc_dc[0]
        wtr.write(ln, code)
    wtr.flush()
    out += wtr.out

    # AC scan 1..63 (Al=0): block0 has coef +1 at k=1 then EOB2 covering
    # blocks 1 and 2 entirely; block 3 gets its own EOB0
    out += sos([(1, 0, 0)], 1, 63, 0, 0)
    wtr = ic._BitWriter()
    ln, code = enc_ac[0x01]
    wtr.write(ln, code)
    wtr.write(1, 1)  # +1
    ln, code = enc_ac[0x20]  # EOB2: eobrun = (1<<2)-1 = 3 -> this block's
    wtr.write(ln, code)  # remainder + blocks 1 and 2
    wtr.write(2, 0)  # 2 extra eobrun bits = 0
    ln, code = enc_ac[0x00]  # EOB0 for block 3
    wtr.write(ln, code)
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"

    img = ic.jpeg_decode(bytes(out))
    assert img.shape == (16, 16)
    # every block: DC=2 -> flat 132 contribution; block 0 adds the k=1
    # basis (horizontal cosine); blocks 1-3 are exactly flat
    flat = np.full((8, 8), 0.0)
    zz = np.zeros(64)
    zz[0] = 2
    blk = np.zeros(64)
    blk[ic._ZIGZAG] = zz
    flat_px = (ic._A.T @ blk.reshape(8, 8) @ ic._A) + 128.0
    exp_flat = np.clip(flat_px.round(), 0, 255).astype(np.uint8)
    assert np.array_equal(img[8:, 8:], exp_flat)
    assert np.array_equal(img[:8, 8:], exp_flat)
    assert np.array_equal(img[8:, :8], exp_flat)
    zz[1] = 1
    blk = np.zeros(64)
    blk[ic._ZIGZAG] = zz
    b0 = np.clip(((ic._A.T @ blk.reshape(8, 8) @ ic._A) + 128.0).round(), 0, 255)
    assert np.array_equal(img[:8, :8], b0.astype(np.uint8))


def test_progressive_decoder_never_hangs_on_fuzz():
    import time

    rng = np.random.RandomState(77)
    base = ic.jpeg_encode_progressive(_grad(24, 32), quality=80)
    t0 = time.time()
    for i in range(60):
        k = i % 3
        if k == 0:
            blob = bytes(rng.randint(0, 256, size=rng.randint(4, 400), dtype=np.uint8))
        elif k == 1:
            blob = base[: rng.randint(2, len(base))]
        else:
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randint(0, len(b))] ^= 1 << rng.randint(0, 8)
            blob = bytes(b)
        try:
            out = ic.jpeg_decode(blob)
            assert out.dtype == np.uint8
        except ic.CodecError:
            pass
    assert time.time() - t0 < 30.0


# -- 4:2:0 chroma subsampling ------------------------------------------------

def test_jpeg_420_roundtrip_and_exact_constant_chroma():
    # general image: decode close (chroma is lossy by design)
    img = _grad(24, 40)
    back = ic.jpeg_decode(ic.jpeg_encode(img, quality=95, subsampling="420"))
    assert back.shape == img.shape
    assert np.abs(back.astype(float) - img.astype(float)).mean() < 6.0

    # constant-chroma image: 2x2 mean downsampling is LOSSLESS, so the
    # 4:2:0 decode must equal the 4:4:4 decode exactly — pins the
    # decoder's subsampled-MCU walk and upsample path bit-for-bit
    g = _grad(16, 16, c=1)
    const = np.stack([g, g, g], axis=-1)  # gray content -> Cb=Cr=128
    d444 = ic.jpeg_decode(ic.jpeg_encode(const, quality=90))
    d420 = ic.jpeg_decode(ic.jpeg_encode(const, quality=90, subsampling="420"))
    assert np.array_equal(d444, d420)


def test_jpeg_420_non_multiple_of_16():
    img = _grad(19, 27)
    back = ic.jpeg_decode(ic.jpeg_encode(img, quality=95, subsampling="420"))
    assert back.shape == (19, 27, 3)
    assert np.abs(back.astype(float) - img.astype(float)).mean() < 8.0


def test_jpeg_444_bytes_unchanged_by_refactor():
    # the default path must stay byte-stable across the _encode_block
    # refactor (the corpus and all committed fixtures depend on it)
    img = _grad(13, 21)
    blob = ic.jpeg_encode(img, quality=90)
    assert blob == ic.jpeg_encode(img, quality=90, subsampling="444")
    with pytest.raises(ValueError):
        ic.jpeg_encode(img, subsampling="422")


# -- one decode path: every scan, size bound, error class, pinned pixels ----

def test_baseline_non_interleaved_scans():
    """A sequential frame may code one component per scan (T.81 A.2.2).
    Every scan must be decoded, not just the first: the three-scan file
    decodes to exactly the pixels of the interleaved one."""
    import struct

    img = _grad(24, 32)
    quality = 85
    ref = ic.jpeg_encode(img, quality=quality)
    # DQT / SOF0 / DHT exactly as jpeg_encode writes them
    out = bytearray(ref[: ref.find(b"\xff\xda")])
    rgb = img.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    quant = [
        ic._quality_scale(ic._QT_LUMA, quality)[ic._ZIGZAG],
        ic._quality_scale(ic._QT_CHROMA, quality)[ic._ZIGZAG],
    ]
    dc_tables = [ic._build_huffman_encode(*ic._DC_LUMA), ic._build_huffman_encode(*ic._DC_CHROMA)]
    ac_tables = [ic._build_huffman_encode(*ic._AC_LUMA), ic._build_huffman_encode(*ic._AC_CHROMA)]
    for ci, plane in enumerate(planes):
        t = 0 if ci == 0 else 1
        sos = bytes([1, ci + 1, (t << 4) | t, 0, 63, 0])
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        wtr = ic._BitWriter()
        pred = 0
        for by in range(0, 24, 8):
            for bx in range(0, 32, 8):
                block = plane[by : by + 8, bx : bx + 8] - 128.0
                pred = ic._encode_block(wtr, block, quant[t], dc_tables[t], ac_tables[t], pred)
        wtr.flush()
        out += wtr.out
    out += b"\xff\xd9"
    assert np.array_equal(ic.jpeg_decode(bytes(out)), ic.jpeg_decode(ref))


_FRAMES = {"sof0": (ic.jpeg_encode, b"\xff\xc0"), "sof2": (ic.jpeg_encode_progressive, b"\xff\xc2")}


@pytest.mark.parametrize("frame", sorted(_FRAMES))
def test_jpeg_declared_blocks_beyond_scan_bits_rejected(frame):
    """A few hundred bytes whose SOF declares 7999x7999 (under the pixel
    cap) are rejected before any coefficient row is allocated: every 8x8
    block costs at least one bit of a DC code."""
    import struct

    encode, sof = _FRAMES[frame]
    blob = bytearray(encode(_grad(16, 16, c=1), quality=80))
    i = blob.find(sof)
    blob[i + 5 : i + 9] = struct.pack(">HH", 7999, 7999)
    with pytest.raises(ic.CodecError, match="declares 1000000 blocks but its scans hold"):
        ic.jpeg_decode(bytes(blob))


@pytest.mark.parametrize("frame", sorted(_FRAMES))
@pytest.mark.parametrize("case", ["undefined_dc_table", "undefined_quant_table", "odd_16bit_dqt"])
def test_jpeg_malformed_header_raises_codec_error(frame, case):
    """Header and scan errors are CodecError, one class for the caller to
    record, never a KeyError or a numpy ValueError."""
    import struct

    encode, sof = _FRAMES[frame]
    blob = bytearray(encode(_grad(16, 16, c=1), quality=80))
    if case == "undefined_dc_table":  # first scan's component uses DC table 1
        i = blob.find(b"\xff\xda")
        blob[i + 6] = 0x10 | (blob[i + 6] & 0xF)
    elif case == "undefined_quant_table":  # the component names table 3
        i = blob.find(sof)
        blob[i + 12] = 3
    else:  # 16-bit precision table of 127 bytes
        i = blob.find(b"\xff\xdb")
        (seg_len,) = struct.unpack(">H", blob[i + 2 : i + 4])
        dqt = bytes([0x10]) + bytes(range(1, 128))
        blob[i : i + 2 + seg_len] = b"\xff\xdb" + struct.pack(">H", len(dqt) + 2) + dqt
    with pytest.raises(ic.CodecError):
        ic.jpeg_decode(bytes(blob))


def test_jpeg_header_fuzz_raises_only_codec_error():
    """Mutated marker segments (tables, frame and scan headers) of
    baseline, 4:2:0 and progressive files either decode or raise
    CodecError: no KeyError, struct.error, ZeroDivisionError or numpy
    ValueError escapes."""
    rng = np.random.RandomState(7)
    bases = [
        ic.jpeg_encode(_grad(24, 32), 80),
        ic.jpeg_encode(_grad(19, 27), 90, subsampling="420"),
        ic.jpeg_encode(_grad(16, 16, c=1), 80),
        ic.jpeg_encode_progressive(_grad(24, 32), 80),
        ic.jpeg_encode_progressive(_grad(16, 16, c=1), 80),
    ]
    for i in range(500):
        base = bases[i % len(bases)]
        blob = bytearray(base)
        header_end = base.find(b"\xff\xda") + 14  # through the first SOS header
        for _ in range(rng.randint(1, 4)):
            blob[rng.randint(2, header_end)] = rng.randint(0, 256)
        try:
            out = ic.jpeg_decode(bytes(blob))
        except ic.CodecError:
            continue
        assert out.dtype == np.uint8


def test_jpeg_decode_pixels_pinned():
    """The decoded pixels of a seeded set of encoder outputs (gray, 4:4:4,
    4:2:0, odd sizes, qualities 30-98, baseline and progressive) are
    pinned by digest. The baseline-vs-progressive comparisons above share
    the dequantize + IDCT tail, so a tail change that moves both alike
    passes them, but not this."""
    import hashlib

    rng = np.random.RandomState(1234)
    digest = hashlib.sha256()
    for i in range(60):
        kind = ("gray", "444", "420")[i % 3]
        h, w = (int(v) for v in rng.randint(1, 65, size=2))
        quality = int(rng.randint(30, 99))
        yy, xx = np.mgrid[0:h, 0:w]
        ramp = yy * 7 + xx * 5
        shape = (h, w) if kind == "gray" else (h, w, 3)
        base = ramp if kind == "gray" else ramp[..., None]
        img = np.clip(base % 256 + rng.randint(-60, 61, size=shape), 0, 255).astype(np.uint8)
        if kind == "420":
            blobs = [ic.jpeg_encode(img, quality, subsampling="420")]
        else:
            blobs = [ic.jpeg_encode(img, quality), ic.jpeg_encode_progressive(img, quality)]
        for blob in blobs:
            out = ic.jpeg_decode(blob)
            digest.update(str(out.shape).encode())
            digest.update(out.tobytes())
    assert digest.hexdigest() == "9705865b312b67493bac42a24b179b521eb7c80e6a15d67a0e2606f114f7e7d3"


# -- GIF (round-3 S1 completion: reference image_io.py:68-137 accepts GIF) --

def test_gif_lossless_round_trip():
    rng = np.random.default_rng(7)
    for shape in [(5, 9, 3), (16, 16, 3), (1, 1, 3), (40, 33, 3)]:
        img = (rng.integers(0, 6, size=shape) * 40).astype(np.uint8)
        blob = ic.gif_encode(img)
        assert blob[:6] == b"GIF89a"
        assert ic.gif_dimensions(blob) == shape[:2]
        assert np.array_equal(ic.gif_decode(blob), img)
    # grayscale input widens to RGB (decode contract is (H, W, 3))
    g = rng.integers(0, 256, size=(64, 48)).astype(np.uint8)
    assert np.array_equal(ic.gif_decode(ic.gif_encode(g)), np.stack([g] * 3, -1))


def test_gif_spec_golden_bytes():
    # hand-assembled 3x1 red/blue/red GIF: min_code_size 2, codes
    # [clear=4, 0, 1, 0, eoi=5] at 3 bits, LSB-first -> 0x44 0x50
    blob = (
        b"GIF89a"
        + b"\x03\x00\x01\x00"          # 3 x 1 logical screen
        + b"\x80\x00\x00"              # global table, 2 entries
        + b"\xff\x00\x00" + b"\x00\x00\xff"   # red, blue
        + b"\x2c\x00\x00\x00\x00\x03\x00\x01\x00\x00"  # image descriptor
        + b"\x02\x02\x44\x50\x00"      # LZW data
        + b"\x3b"
    )
    out = ic.gif_decode(blob)
    assert out.shape == (1, 3, 3)
    assert out[0].tolist() == [[255, 0, 0], [0, 0, 255], [255, 0, 0]]
    assert ic.gif_dimensions(blob) == (1, 3)


def test_gif_interlaced_and_extension_skip():
    # build an interlaced variant by hand: permute rows into the 4-pass
    # storage order, set the interlace flag, and splice a graphic-control
    # extension before the descriptor — decode must undo both
    rng = np.random.default_rng(3)
    img = (rng.integers(0, 4, size=(13, 6, 3)) * 80).astype(np.uint8)
    h = img.shape[0]
    order = np.concatenate(
        [np.arange(s, h, k) for s, k in ((0, 8), (4, 8), (2, 4), (1, 2))]
    )
    stored = ic.gif_encode(img[order])
    desc = stored.index(b"\x2c")
    interlaced = bytearray(stored)
    interlaced[desc + 9] |= 0x40  # image-descriptor packed: interlace bit
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    blob = bytes(interlaced[:desc]) + gce + bytes(interlaced[desc:])
    assert np.array_equal(ic.gif_decode(blob), img)


def test_gif_dict_reset_and_many_colors():
    # >4096 LZW dict entries forces the encoder's clear-and-reset path
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(120, 90)).astype(np.uint8)
    blob = ic.gif_encode(img)
    assert np.array_equal(ic.gif_decode(blob), np.stack([img] * 3, -1))


def test_gif_rejects_junk_and_palette_overflow():
    with pytest.raises(ic.CodecError):
        ic.gif_decode(b"GIF89a\x00")
    with pytest.raises(ic.CodecError):
        ic.gif_dimensions(b"not a gif at all")
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(32, 32, 3)).astype(np.uint8)
    with pytest.raises(ic.CodecError):
        ic.gif_encode(img)  # ~1024 distinct colors


def test_gif_decoder_never_hangs_on_fuzz():
    rng = np.random.default_rng(13)
    base = bytearray(ic.gif_encode((rng.integers(0, 5, (9, 9)) * 50).astype(np.uint8)))
    for trial in range(200):
        b = bytearray(base)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(6, len(b))] = rng.integers(0, 256)
        cut = rng.integers(7, len(b))
        for blob in (bytes(b), bytes(b[:cut])):
            try:
                out = ic.gif_decode(blob)
                assert out.ndim == 3 and out.shape[2] == 3
            except (ic.CodecError, IndexError, ValueError):
                pass


def test_decode_image_gif_route():
    from ocr_spark.operators.multimodal import decode_image

    img = (np.mgrid[0:6, 0:7][0] * 30 % 256).astype(np.uint8)
    rgb = np.stack([img] * 3, -1)
    assert np.array_equal(decode_image(ic.gif_encode(rgb)), rgb)


def test_blob_metadata_gif_dims(spark):
    from ocr_spark.operators.multimodal import blob_metadata

    gif = ic.gif_encode((_grad(11, 19) // 32 * 32))
    df = spark.createDataFrame([(1, bytearray(gif))], "blob_id long, blob binary")
    row = blob_metadata(df).collect()[0]
    assert (row.kind, row.height, row.width) == ("gif", 11, 19)
