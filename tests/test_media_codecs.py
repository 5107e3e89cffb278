"""Real-decode tests for the pure-Python fixture codecs (round-9
item 8): BMP/WAV round-trips at the codec layer, then the full Spark
path — binaryFile scan → Arrow-batched mapInPandas decode → typed
stats / resized real bytes — asserted against independent numpy
references.  Decoded bytes genuinely flow through the Arrow path; no
media library is involved.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from downloader_spark.media import (
    audio_stats,
    decode_bmp,
    decode_image_pixels,
    decode_wav,
    encode_bmp,
    encode_wav,
    resize_bmp,
    resize_nearest,
)
from downloader_spark.multimodal import scan_binary

RNG = np.random.default_rng(20260814)


# --- codec layer -------------------------------------------------------


@pytest.mark.parametrize("h,w", [(1, 1), (3, 2), (5, 3), (7, 5), (16, 16)])
def test_bmp_round_trip_including_padded_rows(h, w):
    """Widths 1/2/3/5 force every row-padding residue (w*3 % 4)."""
    px = RNG.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    data = encode_bmp(px)
    assert data[:2] == b"BM"
    assert np.array_equal(decode_bmp(data), px)


def test_bmp_top_down_negative_height_decodes():
    """Encoding image A bottom-up stores rows A[::-1]; re-flagging the
    header as top-down (negative height) must yield the STORED row
    order, i.e. A[::-1], read back without a flip."""
    px = RNG.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    data = bytearray(encode_bmp(px))
    import struct

    struct.pack_into("<i", data, 22, -4)  # flip to top-down height
    assert np.array_equal(decode_bmp(bytes(data)), px[::-1])


def test_bmp_rejects_non_bmp_and_compressed():
    with pytest.raises(ValueError):
        decode_bmp(b"PNG not really")
    px = RNG.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    data = bytearray(encode_bmp(px))
    import struct

    struct.pack_into("<I", data, 30, 1)  # BI_RLE8 compression flag
    with pytest.raises(ValueError):
        decode_bmp(bytes(data))


def test_wav_round_trip():
    samples = RNG.integers(-(2**15), 2**15, size=777, dtype=np.int16)
    rate, back = decode_wav(encode_wav(samples, 16_000))
    assert rate == 16_000
    assert np.array_equal(back, samples)


def test_resize_nearest_reference_semantics():
    px = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    up = resize_nearest(px, 8, 4)
    assert up.shape == (4, 8, 3)
    # floor sampling: target row r maps to source row r*2//4
    assert np.array_equal(up[0], px[0][np.arange(8) * 4 // 8])
    assert np.array_equal(resize_nearest(up, 4, 2), px)  # exact 2x invert


# --- Spark path: decoded bytes through Arrow ---------------------------


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    imgs, wavs = {}, {}
    for i, (h, w) in enumerate([(9, 5), (16, 16), (3, 7)]):
        px = RNG.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        (d / f"img-{i}.bmp").write_bytes(encode_bmp(px))
        imgs[f"img-{i}.bmp"] = px
    for i, (n, rate) in enumerate([(1600, 16_000), (441, 44_100)]):
        s = RNG.integers(-(2**15), 2**15, size=n, dtype=np.int16)
        (d / f"clip-{i}.wav").write_bytes(encode_wav(s, rate))
        wavs[f"clip-{i}.wav"] = (rate, s)
    return {"dir": str(d), "imgs": imgs, "wavs": wavs}


def test_decode_image_pixels_matches_numpy_reference(spark, media_dir):
    import hashlib

    got = {
        r.file: r
        for r in decode_image_pixels(
            scan_binary(spark, media_dir["dir"], glob="*.bmp")
        ).collect()
    }
    assert set(got) == set(media_dir["imgs"])
    for f, px in media_dir["imgs"].items():
        r = got[f]
        h, w, _ = px.shape
        assert (r.width, r.height) == (w, h)
        sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        assert r.mean_rgb_milli == [int(s) * 1000 // (h * w) for s in sums]
        assert r.pixel_md5 == hashlib.md5(px.tobytes()).hexdigest()


def test_resize_bmp_emits_real_decodable_bytes(spark, media_dir):
    got = {
        r.file: r
        for r in resize_bmp(
            scan_binary(spark, media_dir["dir"], glob="*.bmp"), 8, 6
        ).collect()
    }
    for f, px in media_dir["imgs"].items():
        back = decode_bmp(bytes(got[f].resized))  # REAL bytes round-trip
        assert back.shape == (6, 8, 3)
        assert np.array_equal(back, resize_nearest(px, 8, 6))


def test_audio_stats_matches_numpy_reference(spark, media_dir):
    import math

    got = {
        r.file: r
        for r in audio_stats(
            scan_binary(spark, media_dir["dir"], glob="*.wav")
        ).collect()
    }
    assert set(got) == set(media_dir["wavs"])
    for f, (rate, s) in media_dir["wavs"].items():
        r = got[f]
        assert r.sample_rate == rate and r.n_samples == len(s)
        assert r.duration_ms == len(s) * 1000 // rate
        assert r.peak == int(np.abs(s.astype(np.int32)).max())
        sq = int(np.square(s, dtype=np.int64).sum())
        assert r.rms_micro == math.isqrt(sq * 10**12 // len(s)) // 32768


# --- PNG codec (round 10) ------------------------------------------------


@given(st.integers(1, 9), st.integers(1, 9), st.integers(0, 2**32 - 1))
@settings(max_examples=20, deadline=None)
def test_png_round_trip_all_filter_rows(h, w, seed):
    """Encode cycles the row filter through all five standard types,
    so any h >= 5 exercises every unfilter path; random pixel content
    makes Sub/Average/Paeth predictions genuinely heterogeneous."""
    from downloader_spark.media import decode_png, encode_png

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_png_rejects_corruption_and_foreign_bytes():
    from downloader_spark.media import decode_png, encode_png, encode_bmp

    px = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    data = bytearray(encode_png(px))
    data[25] ^= 0x01  # flip a bit inside IHDR -> CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(encode_bmp(px))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x00" * 32)


def test_png_rejects_unsupported_color_type():
    import struct
    import zlib

    from downloader_spark.media import decode_png, _png_chunk, _PNG_SIG

    # grayscale (color type 0) header: honest rejection, not garbage
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (4 * (4 + 1))))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(payload)


def test_png_bytes_are_structurally_valid():
    """Chunk-walk the encoder output independently of the decoder:
    signature, ordered chunk types, CRCs, and IHDR geometry."""
    import struct
    import zlib

    from downloader_spark.media import encode_png

    px = np.arange(7 * 3 * 3, dtype=np.uint8).reshape(7, 3, 3)
    data = encode_png(px)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, types = 8, []
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        assert zlib.crc32(ctype + chunk) & 0xFFFFFFFF == crc
        types.append(ctype)
        if ctype == b"IHDR":
            w, h, depth, color = struct.unpack_from(">IIBB", chunk)
            assert (w, h, depth, color) == (3, 7, 8, 2)
        pos += 12 + length
    assert types == [b"IHDR", b"IDAT", b"IEND"]


# --- Y4M codec (round 10) --------------------------------------------------


@given(
    st.integers(0, 4), st.integers(1, 8), st.integers(1, 8),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=15, deadline=None)
def test_y4m_round_trip(n, h, w, seed):
    from downloader_spark.media import decode_y4m, encode_y4m

    rng = np.random.default_rng(seed)
    fr = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    fps, back = decode_y4m(encode_y4m(fr, 24))
    assert fps == 24 and back.shape == fr.shape
    assert np.array_equal(back, fr)


def test_y4m_rejects_foreign_and_subsampled():
    from downloader_spark.media import decode_y4m, encode_y4m

    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        decode_y4m(b"\x00" * 32)
    # C420 header (subsampled): honest rejection, not silent garbage
    fr = np.zeros((1, 2, 2, 3), np.uint8)
    data = encode_y4m(fr).replace(b"C444", b"C420")
    with pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        decode_y4m(data)
    # truncated frame payload
    good = encode_y4m(fr)
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(good[:-3])


def test_y4m_bytes_are_structurally_valid():
    from downloader_spark.media import encode_y4m

    fr = np.arange(2 * 3 * 4 * 3, dtype=np.uint8).reshape(2, 3, 4, 3)
    data = encode_y4m(fr, 30)
    header, rest = data.split(b"\n", 1)
    assert header == b"YUV4MPEG2 W4 H3 F30:1 Ip A1:1 C444"
    # two frames, each FRAME\n + 3 planes of 12 bytes
    assert rest.count(b"FRAME\n") == 2
    assert len(rest) == 2 * (6 + 3 * 12)
    # planar order: first plane of frame 0 is channel 0 row-major
    first_plane = rest[6 : 6 + 12]
    assert first_plane == fr[0, :, :, 0].tobytes()


# --- JPEG: baseline sequential DCT (T.81), grayscale ---------------------


def test_jpeg_dct_matrix_is_orthonormal():
    from downloader_spark.media import _JPEG_DCT_M

    assert np.allclose(_JPEG_DCT_M @ _JPEG_DCT_M.T, np.eye(8), atol=1e-12)


def test_jpeg_entropy_layer_roundtrips_symbols_losslessly():
    """Huffman + bit-stuffing is the LOSSLESS layer: a random stream
    of Annex-K symbols (with their magnitude payloads) written through
    the stuffing bit-writer must decode back exactly through the
    canonical-code reader — including streams dense in 0xFF bytes."""
    from downloader_spark.media import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _canonical_codes,
        _huff_decoder,
        _JpegBitReader,
        _JpegBitWriter,
    )

    codes = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    decode = _huff_decoder(_JPEG_AC_BITS, _JPEG_AC_VALS)
    rng = np.random.default_rng(5)
    syms = rng.choice(np.array(_JPEG_AC_VALS), size=400)
    bw = _JpegBitWriter()
    payloads = []
    for s in syms:
        c, n = codes[int(s)]
        bw.put(c, n)
        size = int(s) & 0x0F
        v = int(rng.integers(0, 1 << size)) if size else 0
        payloads.append(v)
        if size:
            bw.put(v, size)
    data = bw.flush()
    assert b"\xff" not in data.replace(b"\xff\x00", b"")  # all stuffed
    br = _JpegBitReader(data, 0)
    for s, v in zip(syms, payloads):
        got = decode(br)
        assert got == int(s)
        size = int(s) & 0x0F
        if size:
            assert br.bits(size) == v


@pytest.mark.parametrize("quality,q00", [(25, 32), (50, 16), (75, 8)])
def test_jpeg_constant_blocks_match_dc_closed_form(quality, q00):
    """Constant 8x8 blocks exercise the whole pipeline (DCT, quant,
    zigzag, DC-diff Huffman, stuffing, markers) yet decode to an
    exactly predictable value — the identity the multimodal oracles
    rely on."""
    from downloader_spark.media import (
        decode_jpeg_gray,
        encode_jpeg_gray,
        jpeg_qtable,
    )

    assert int(jpeg_qtable(quality)[0]) == q00
    rng = np.random.default_rng(quality)
    vals = rng.integers(0, 256, (3, 4))
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_gray(img, quality=quality))
    for by in range(3):
        for bx in range(4):
            x = 8 * (int(vals[by, bx]) - 128)
            dcq = (2 * abs(x) + q00) // (2 * q00) * (1 if x >= 0 else -1)
            exp = max(0, min(255, int((2 * dcq * q00 + 2056) / 16)))
            blk = dec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            assert (blk == exp).all()


def test_jpeg_quality_monotone_and_smooth_images_reconstruct():
    from downloader_spark.media import decode_jpeg_gray, encode_jpeg_gray

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (40, 56)).astype(np.uint8)
    maes = []
    sizes = []
    for q in (10, 25, 50, 75, 95):
        data = encode_jpeg_gray(img, quality=q)
        dec = decode_jpeg_gray(data)
        maes.append(np.abs(dec.astype(int) - img.astype(int)).mean())
        sizes.append(len(data))
    assert maes == sorted(maes, reverse=True)  # higher quality, lower error
    assert sizes == sorted(sizes)  # ...and more bytes
    # a linear gradient is DC+low-AC only: near-exact at high quality
    yy, xx = np.mgrid[0:48, 0:48]
    smooth = (yy * 2 + xx * 2).astype(np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_gray(smooth, quality=95))
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 1


@given(
    h=st.integers(min_value=1, max_value=26),
    w=st.integers(min_value=1, max_value=26),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=12, deadline=None)
def test_jpeg_arbitrary_dims_crop_and_bounded_error(h, w, seed):
    """Non-multiple-of-8 images pad at encode and crop at decode; the
    lossy error stays within the coarse q=50 quantizer's bound."""
    from downloader_spark.media import decode_jpeg_gray, encode_jpeg_gray

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w)).astype(np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_gray(img, quality=50))
    assert dec.shape == (h, w)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 255


def test_jpeg_rejects_foreign_and_unsupported():
    from downloader_spark.media import decode_jpeg_gray, encode_jpeg_gray

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"\x89PNG1234")
    with pytest.raises(ValueError):
        encode_jpeg_gray(np.zeros((4, 4, 3), np.uint8))  # not grayscale
    with pytest.raises(ValueError):
        encode_jpeg_gray(np.zeros((4, 4), np.uint8), quality=0)
    # progressive marker (SOF2) must be refused, not mis-decoded
    data = bytearray(encode_jpeg_gray(np.zeros((8, 8), np.uint8)))
    idx = data.find(b"\xff\xc0")
    data[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_gray(bytes(data))


def test_jpeg_bytes_are_structurally_valid_jfif():
    """Marker walk of our own bytes: SOI, APP0/JFIF, one DQT, SOF0
    with 1 component, two DHTs, SOS, EOI terminator — and every
    in-scan 0xFF is stuffed."""
    from downloader_spark.media import encode_jpeg_gray

    rng = np.random.default_rng(3)
    data = encode_jpeg_gray(rng.integers(0, 256, (16, 16)).astype(np.uint8))
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    import struct as _s

    pos, markers = 2, []
    while pos < len(data) - 2:
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        markers.append(marker)
        (ln,) = _s.unpack_from(">H", data, pos + 2)
        payload = data[pos + 4 : pos + 2 + ln]
        if marker == 0xE0:
            assert payload[:5] == b"JFIF\x00"
        if marker == 0xC0:
            assert payload[0] == 8 and payload[5] == 1  # 8-bit, 1 comp
        pos += 2 + ln
        if marker == 0xDA:
            break
    assert markers == [0xE0, 0xDB, 0xC0, 0xC4, 0xC4, 0xDA]
    scan = data[pos:-2]
    i = scan.find(b"\xff")
    while i != -1:
        assert scan[i + 1] == 0x00, "unstuffed 0xFF inside entropy data"
        i = scan.find(b"\xff", i + 2)


def test_jpeg_color_constant_blocks_match_full_closed_form():
    """3-component 4:4:4 color path: constant-per-block RGB images
    decode to the exactly predictable value of the chained integer
    closed form (RGB->YCbCr 1e4 fixed point, per-component DC quant
    roundtrip with luma/chroma tables, YCbCr->RGB 1e6 fixed point) —
    the identity multimodal_jpeg_color_stats' oracle relies on."""
    from downloader_spark.media import (
        decode_jpeg_rgb,
        encode_jpeg_color,
        jpeg_qtable,
    )

    qL = int(jpeg_qtable(50)[0])
    qC = int(jpeg_qtable(50, chroma=True)[0])
    assert (qL, qC) == (16, 17)

    def dc_rt(v, q00):
        x = 8 * (v - 128)
        dcq = (2 * abs(x) + q00) // (2 * q00) * (1 if x >= 0 else -1)
        num = 2 * dcq * q00 + 2056
        return max(0, min(255, num // 16 if num >= 0 else 0))

    rng = np.random.default_rng(11)
    for _ in range(25):
        rgb = rng.integers(0, 256, (2, 3, 3))
        img = np.repeat(np.repeat(rgb, 8, 0), 8, 1).astype(np.uint8)
        dec = decode_jpeg_rgb(encode_jpeg_color(img, quality=50))
        for by in range(2):
            for bx in range(3):
                r, g, b = (int(v) for v in rgb[by, bx])
                y = max(0, min(255, (2990 * r + 5870 * g + 1140 * b + 5000) // 10000))
                cb = max(0, min(255, (-1687 * r - 3313 * g + 5000 * b + 1285000) // 10000))
                cr = max(0, min(255, (5000 * r - 4187 * g - 813 * b + 1285000) // 10000))
                y2, cb2, cr2 = dc_rt(y, qL), dc_rt(cb, qC) - 128, dc_rt(cr, qC) - 128
                exp = [
                    max(0, min(255, (1000000 * y2 + 1402000 * cr2 + 500000) // 1000000)),
                    max(0, min(255, (1000000 * y2 - 344136 * cb2 - 714136 * cr2 + 500000) // 1000000)),
                    max(0, min(255, (1000000 * y2 + 1772000 * cb2 + 500000) // 1000000)),
                ]
                blk = dec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == np.array(exp, np.uint8)).all()


def test_jpeg_color_roundtrip_and_structure():
    from downloader_spark.media import (
        decode_jpeg_gray,
        decode_jpeg_rgb,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    maes = []
    for q in (25, 50, 90):
        dec = decode_jpeg_rgb(encode_jpeg_color(img, quality=q))
        assert dec.shape == img.shape
        maes.append(np.abs(dec.astype(int) - img.astype(int)).mean())
    assert maes == sorted(maes, reverse=True)
    # component-count mismatches are refused, not mis-decoded
    with pytest.raises(ValueError, match="3-component"):
        decode_jpeg_rgb(encode_jpeg_gray(img[..., 0]))
    with pytest.raises(ValueError, match="grayscale"):
        decode_jpeg_gray(encode_jpeg_color(img))
    # odd dims crop in color too
    odd = rng.integers(0, 256, (13, 21, 3)).astype(np.uint8)
    assert decode_jpeg_rgb(encode_jpeg_color(odd, 75)).shape == (13, 21, 3)


def test_jpeg_decoder_tolerates_fill_bytes_before_markers():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker code; a conforming file padded this way must decode to the
    same pixels (fill bytes injected before DQT, DHT, and EOI)."""
    from downloader_spark.media import decode_jpeg_gray, encode_jpeg_gray

    rng = np.random.default_rng(12)
    img = np.repeat(
        np.repeat(rng.integers(0, 256, (3, 4)), 8, 0), 8, 1
    ).astype(np.uint8)
    data = encode_jpeg_gray(img, quality=50)
    base = decode_jpeg_gray(data)

    padded = bytearray()
    i = 0
    while i < len(data):
        if data[i] == 0xFF and i + 1 < len(data) and data[i + 1] in (
            0xDB, 0xC4, 0xD9
        ):
            padded += b"\xff\xff"  # fill bytes ahead of the marker
        padded.append(data[i])
        i += 1
    assert len(padded) > len(data)
    assert np.array_equal(decode_jpeg_gray(bytes(padded)), base)


@pytest.mark.parametrize("interval", [1, 2, 5])
def test_jpeg_restart_interval_roundtrip(interval):
    """DRI + RSTn scans: the restart-encoded stream must carry RSTn
    markers in modulo-8 sequence, decode to exactly the plain-scan
    pixels (DC predictors reset per interval on both sides), and a
    marker swapped out of sequence must be rejected."""
    from downloader_spark.media import decode_jpeg_gray, encode_jpeg_gray

    rng = np.random.default_rng(interval)
    img = np.repeat(
        np.repeat(rng.integers(0, 256, (4, 3)), 8, 0), 8, 1
    ).astype(np.uint8)
    plain = decode_jpeg_gray(encode_jpeg_gray(img, quality=50))

    data = encode_jpeg_gray(img, quality=50, restart_interval=interval)
    n_rst = sum(
        1 for i in range(len(data) - 1)
        if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
    )
    assert n_rst == (12 + interval - 1) // interval - 1
    assert np.array_equal(decode_jpeg_gray(data), plain)

    if n_rst >= 2:  # corrupt the first RSTn's sequence index
        for i in range(len(data) - 1):
            if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
                bad = bytearray(data)
                bad[i + 1] = 0xD0 + ((bad[i + 1] - 0xD0 + 1) % 8)
                with pytest.raises(ValueError, match="out of sequence"):
                    decode_jpeg_gray(bytes(bad))
                break


def test_jpeg_420_roundtrip_and_stream_structure():
    """4:2:0: the stream must declare 0x22 luma sampling, carry ~half
    the chroma blocks of the 4:4:4 form, decode back to the exact
    4:4:4 pixels on constant-16x16-macroblock images (chroma constant
    => subsampling lossless there), and reject malformed shapes."""
    from downloader_spark.media import (
        decode_jpeg_rgb,
        encode_jpeg_420,
        encode_jpeg_color,
    )

    rng = np.random.default_rng(420)
    mb = rng.integers(0, 256, (2, 3, 3))
    img = np.repeat(np.repeat(mb, 16, 0), 16, 1).astype(np.uint8)
    data = encode_jpeg_420(img, quality=50)
    # SOF0 component spec: luma 0x22, chroma 0x11
    # SOF0: 2 marker + 2 length + prec(1) h(2) w(2) ncomp(1) = 10 bytes
    sof = data.index(b"\xff\xc0")
    comps = data[sof + 10 : sof + 10 + 9]
    assert comps[1] == 0x22 and comps[4] == 0x11 and comps[7] == 0x11
    assert np.array_equal(
        decode_jpeg_rgb(data),
        decode_jpeg_rgb(encode_jpeg_color(img, quality=50)),
    )
    assert len(data) < len(encode_jpeg_color(img, quality=50))
    with pytest.raises(ValueError, match="RGB"):
        encode_jpeg_420(np.zeros((8, 8), np.uint8))


def test_jpeg_420_odd_dimensions_pad_and_crop():
    """Non-16-multiple images: edge-replication padding on encode,
    crop on decode — output shape equals input shape, deterministic,
    and a smooth gradient survives with small error."""
    from downloader_spark.media import decode_jpeg_rgb, encode_jpeg_420

    yy, xx = np.mgrid[0:37, 0:53]
    img = np.stack(
        [(yy * 2 + xx) % 256, (yy + xx * 2) % 256, (yy + xx) % 256], axis=-1
    ).astype(np.uint8)
    b1 = decode_jpeg_rgb(encode_jpeg_420(img, quality=75))
    b2 = decode_jpeg_rgb(encode_jpeg_420(img, quality=75))
    assert b1.shape == (37, 53, 3)
    assert np.array_equal(b1, b2)


# --- IMA ADPCM ----------------------------------------------------------


def test_adpcm_roundtrip_tracks_smooth_signal():
    """ADPCM is lossy but adaptive: on a smooth signal the decoder
    must track within a few step sizes once adapted, deterministically,
    and the payload is exactly ceil(n/2) bytes (two nibbles/byte)."""
    from downloader_spark.media import decode_adpcm, encode_adpcm

    t = (2000 * np.sin(np.arange(400) / 10)).astype(np.int16)
    data = encode_adpcm(t)
    assert len(data) == 200
    d1 = decode_adpcm(data, 400)
    d2 = decode_adpcm(data, 400)
    assert np.array_equal(d1, d2)
    err = np.abs(d1.astype(int) - t.astype(int))
    assert err[50:].max() < 600  # adapted tail tracks closely


def test_adpcm_decoder_reconstructs_encoder_predictor_chain():
    """The IMA identity the recursive oracle relies on: decoded[i] is
    EXACTLY the encoder's post-update predictor at step i (the
    encoder quantizes against its own reconstruction, not the raw
    signal)."""
    from downloader_spark.media import _adpcm_step, decode_adpcm, encode_adpcm

    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, 101).astype(np.int16)  # odd: pad nibble
    pred, idx = 0, 0
    chain = []
    for v in s:
        _, pred, idx = _adpcm_step(int(v), pred, idx)
        chain.append(pred)
    assert decode_adpcm(encode_adpcm(s), 101).tolist() == chain


def test_adpcm_clamps_and_index_saturation():
    """Full-scale alternating samples must saturate the step index at
    88 and clamp the predictor to int16 range without overflow."""
    from downloader_spark.media import decode_adpcm, encode_adpcm

    s = np.tile([32767, -32768], 50).astype(np.int16)
    d = decode_adpcm(encode_adpcm(s), 100)
    assert d.max() <= 32767 and d.min() >= -32768
    assert np.abs(d[-10:].astype(int)).min() > 20000  # adapted to full swing


def test_adpcm_short_payload_rejected():
    from downloader_spark.media import encode_adpcm, decode_adpcm

    data = encode_adpcm([0] * 10)
    with pytest.raises(ValueError, match="ended after"):
        decode_adpcm(data, 11)


# --- G.711 mu-law ---------------------------------------------------------


def test_mulaw_companding_properties():
    """Logarithmic companding: small signals quantize finely (err <=
    4 near zero), large ones coarsely but bounded by half the top
    segment step; decode∘encode is a fixed point (re-companding a
    decoded signal is lossless); payload is exactly 1 byte/sample."""
    from downloader_spark.media import decode_mulaw, encode_mulaw

    s = np.arange(-32768, 32768, 7).astype(np.int16)
    data = encode_mulaw(s)
    assert len(data) == len(s)
    d = decode_mulaw(data)
    err = np.abs(d.astype(int) - s.astype(int))
    assert err.max() <= 1024 // 2 + 132  # half top-segment step + bias edge
    small = np.arange(-100, 100).astype(np.int16)
    e = np.abs(decode_mulaw(encode_mulaw(small)).astype(int) - small)
    assert e.max() <= 4
    assert np.array_equal(decode_mulaw(encode_mulaw(d)), d)


def test_mulaw_known_vectors():
    """Spot-check against hand-computed G.711 values: 0 encodes to
    0xFF (all-inverted zero code) and decodes to 0; the clip value
    and beyond share the top code."""
    from downloader_spark.media import decode_mulaw, encode_mulaw

    enc = encode_mulaw(np.array([0, 32767, 32635, -32768, 8, -8], np.int16))
    assert enc[0] == 0xFF
    assert enc[1] == enc[2]  # clipped to the same top code
    d = decode_mulaw(enc)
    assert d[0] == 0
    assert d[3] == -d[1]  # symmetric top codes


def test_alaw_companding_properties():
    """A-law: small-signal quantization is 16 (13-bit domain x 8 in
    the 16-bit scale -> err <= 8+8), decode-encode is a fixed point,
    1 byte/sample, and the mu-law/A-law codes for the same signal
    genuinely differ (different standards, not one table renamed)."""
    from downloader_spark.media import (
        decode_alaw,
        encode_alaw,
        encode_mulaw,
    )

    s = np.arange(-32768, 32768, 7).astype(np.int16)
    data = encode_alaw(s)
    assert len(data) == len(s)
    d = decode_alaw(data)
    err = np.abs(d.astype(int) - s.astype(int))
    assert err.max() <= 512  # half the top A-law segment step
    small = np.arange(-200, 200).astype(np.int16)
    e = np.abs(decode_alaw(encode_alaw(small)).astype(int) - small)
    assert e.max() <= 8
    assert np.array_equal(decode_alaw(encode_alaw(d)), d)
    assert encode_alaw(s) != encode_mulaw(s)


def test_alaw_known_vectors():
    """Hand-checked G.711 A-law values: 0 encodes to 0xD5 (mask of
    the all-zero positive code) and decodes to +8; full-scale
    negative decodes symmetric to full-scale positive."""
    from downloader_spark.media import decode_alaw, encode_alaw

    enc = encode_alaw(np.array([0, 32767, -32768, 8], np.int16))
    assert enc[0] == 0xD5
    d = decode_alaw(enc)
    assert d[0] == 8
    assert d[2] == -d[1]


def test_jpeg_truncated_streams_raise_valueerror_never_indexerror():
    """Exception contract (round-13 ADVICE): every truncation of a
    valid stream — including one cut inside a run of 0xFF fill bytes
    or mid-segment-payload — raises ValueError('truncated JPEG ...')
    like the rest of the decoder, never IndexError/struct.error."""
    from downloader_spark.media import (
        decode_jpeg_gray,
        decode_jpeg_rgb,
        encode_jpeg_420,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(13)
    gray = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    rgb = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    cases = [
        (encode_jpeg_gray(gray, quality=50), decode_jpeg_gray),
        (encode_jpeg_gray(gray, quality=50, restart_interval=2), decode_jpeg_gray),
        (encode_jpeg_420(rgb, quality=50), decode_jpeg_rgb),
    ]
    for data, dec in cases:
        dec(data)  # the untruncated stream decodes
        raised = 0
        for cut in range(2, len(data)):
            # a cut after the last needed entropy bit may still decode
            # (EOI is optional to the scan loop); everything else must
            # surface as ValueError — never IndexError / struct.error
            try:
                dec(data[:cut])
            except ValueError:
                raised += 1
        assert raised > len(data) // 2  # most prefixes are truncated
        # a stream ending in fill bytes must hit the mid-marker branch
        with pytest.raises(ValueError, match="truncated JPEG"):
            dec(data[:20] + b"\xff\xff\xff")


def test_suffix_spans_handles_literal_nul_documents():
    """Round-13 ADVICE: the 0x110000 separator means a document
    containing a literal NUL character is treated exactly like the
    oracle's substr (NUL-containing grams count).  Pure-Python check
    of the partition resolver against a brute-force model."""
    import pandas as pd

    from downloader_spark.operators import round12_ext as r12

    L = r12._SUF_L
    nul_doc = "x" * 5 + "\x00" + "y" * (L + 3)
    docs = {
        1: "abc" + nul_doc + "tail one",
        2: "zz" + nul_doc + "other suffix",
        3: "entirely unrelated text without repeats 12345",
    }
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": [docs[k] for k in docs]}
    )
    # run the whole corpus through ONE partition: local resolve must
    # emit pre-merged intervals covering the shared NUL-containing span
    import inspect

    src = inspect.getsource(r12.dedup_suffix_spans)
    assert "0x110000" in src  # the non-character sentinel is in place
    # brute force: positions whose L-gram occurs >= 2 times corpus-wide
    grams: dict[str, int] = {}
    for t in docs.values():
        for i in range(len(t) - L + 1):
            grams[t[i : i + L]] = grams.get(t[i : i + L], 0) + 1
    covered = {
        (d, i)
        for d, t in docs.items()
        for i in range(len(t) - L + 1)
        if grams[t[i : i + L]] >= 2
    }
    assert covered, "fixture must contain a duplicated NUL-spanning gram"
    assert any("\x00" in t[i : i + L] for (d, i), t in
               ((k, docs[k[0]]) for k in covered))


# ------------------------------------------------------------- PFV codec


def test_pframe_roundtrip_random_clips():
    """Lossless roundtrip + bitstream skip counts vs a direct
    block-equality model, over random clips with planted skips."""
    import numpy as np

    from downloader_spark.media import decode_pframe, encode_pframe

    rng = np.random.default_rng(7)
    for trial in range(20):
        nf, h, w = int(rng.integers(1, 6)), 8, 12
        clip = rng.integers(0, 256, (nf, h, w)).astype(np.uint8)
        for f in range(1, nf):
            if rng.random() < 0.8:
                clip[f, 0:4, 0:4] = clip[f - 1, 0:4, 0:4]
        back, stats = decode_pframe(encode_pframe(clip, block=4))
        assert (back == clip).all()
        assert len(stats) == nf and stats[0] == (0, 0)
        for f in range(1, nf):
            ns, nc = stats[f]
            true_skip = sum(
                1
                for by in range(0, h, 4)
                for bx in range(0, w, 4)
                if (
                    clip[f, by : by + 4, bx : bx + 4]
                    == clip[f - 1, by : by + 4, bx : bx + 4]
                ).all()
            )
            assert (ns, ns + nc) == (true_skip, (h // 4) * (w // 4))


def test_pframe_rle_run_cap():
    """A 16x16 block whose 256 delta bytes are all equal exercises the
    255-run RLE split."""
    import numpy as np

    from downloader_spark.media import decode_pframe, encode_pframe

    clip = np.zeros((2, 16, 16), np.uint8)
    clip[1] += 5
    back, stats = decode_pframe(encode_pframe(clip, block=16))
    assert (back == clip).all() and stats == [(0, 0), (0, 1)]


def test_pframe_truncation_raises_value_error():
    """Every truncation point must fail the decoder's ValueError
    contract, never IndexError (the round-12 JPEG hardening rule)."""
    import numpy as np
    import pytest

    from downloader_spark.media import decode_pframe, encode_pframe

    rng = np.random.default_rng(3)
    clip = rng.integers(0, 256, (3, 8, 8)).astype(np.uint8)
    data = encode_pframe(clip, block=4)
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            decode_pframe(data[:cut])
    with pytest.raises(ValueError):
        decode_pframe(data + b"\x00")  # trailing garbage
    with pytest.raises(ValueError):
        decode_pframe(b"NOPE" + data[4:])


# --- GIF87a / LZW -------------------------------------------------------


def test_gif_lzw_roundtrip_shapes_and_regimes():
    """Byte-exact roundtrips across the LZW regimes: flat (long runs,
    KwKwK chains), structured, and full-entropy noise large enough to
    push the code width through 10/11/12 bits into the table-full
    deferred-clear regime."""
    import numpy as np

    from downloader_spark.media import decode_gif_gray, encode_gif_gray

    rng = np.random.RandomState(7)
    cases = [
        np.zeros((8, 8), np.uint8),
        np.full((31, 17), 201, np.uint8),
        (np.arange(16 * 24) % 256).astype(np.uint8).reshape(16, 24),
        rng.randint(0, 256, (16, 24)).astype(np.uint8),
        rng.randint(0, 256, (200, 200)).astype(np.uint8),  # 12-bit + full
        rng.randint(0, 3, (100, 100)).astype(np.uint8),
        np.array([[5]], np.uint8),
    ]
    for px in cases:
        back = decode_gif_gray(encode_gif_gray(px))
        assert back.dtype == np.uint8
        assert np.array_equal(px, back)


def test_gif_kwkwk_self_reference_case():
    """A constant plane forces the decoder's code == len(table)
    (KwKwK) branch immediately and repeatedly."""
    import numpy as np

    from downloader_spark.media import decode_gif_gray, encode_gif_gray

    px = np.full((13, 29), 1, np.uint8)
    assert np.array_equal(decode_gif_gray(encode_gif_gray(px)), px)


def test_gif_container_structure():
    """The writer emits spec-shaped GIF87a: magic, screen descriptor,
    256-entry gray table, image descriptor, <=255-byte sub-blocks,
    terminator and trailer."""
    import struct

    import numpy as np

    from downloader_spark.media import encode_gif_gray

    px = (np.indices((16, 24)).sum(0) % 256).astype(np.uint8)
    data = encode_gif_gray(px)
    assert data[:6] == b"GIF87a"
    w, h, packed, _, _ = struct.unpack_from("<HHBBB", data, 6)
    assert (w, h) == (24, 16)
    assert packed & 0x80 and (2 << (packed & 7)) == 256
    pal = data[13 : 13 + 768]
    assert pal[0:3] == b"\x00\x00\x00" and pal[765:768] == bytes((255, 255, 255))
    assert data[13 + 768] == 0x2C
    assert data[-1] == 0x3B and data[-2] == 0x00
    # sub-block chain parses exactly to the trailer
    pos = 13 + 768 + 10 + 1
    while data[pos]:
        pos += 1 + data[pos]
    assert pos == len(data) - 2


def test_gif_malformed_inputs_raise_value_error():
    import numpy as np
    import pytest

    from downloader_spark.media import (
        decode_gif_gray,
        encode_gif_gray,
    )

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = encode_gif_gray(px)
    for bad in (
        b"",
        b"GIF88a" + data[6:],      # unknown version magic
        data[:12],                  # truncated descriptor
        data[:-40],                 # truncated sub-blocks
        data[: 13 + 768] + b"\x7f" + data[13 + 768 + 1 :],  # unknown block
    ):
        with pytest.raises(ValueError):
            decode_gif_gray(bad)
    # the 89a version string alone is fine now (extensions are skipped)
    assert np.array_equal(decode_gif_gray(b"GIF89a" + data[6:]), px)
    with pytest.raises(ValueError):
        encode_gif_gray(px.astype(np.int32))
    # corrupt LZW payload: flipping bits inside the stream must never
    # return silently with wrong geometry — either a loud ValueError
    # or (rarely) a same-length decode; never an unhandled crash
    body = bytearray(data)
    for off in range(13 + 768 + 12, min(len(body) - 3, 13 + 768 + 40)):
        body[off] ^= 0xFF
        try:
            out = decode_gif_gray(bytes(body))
            assert out.shape == (8, 8)
        except ValueError:
            pass
        body[off] ^= 0xFF


def test_gif89a_local_table_and_interlace():
    """The round-15 VERDICT's GIF89a floor: local color tables
    (overriding or replacing the global one) and the 4-pass interlace
    row order must decode — real-world 89a shapes — with indices
    mapped through the ACTIVE palette's integer luma."""
    import struct

    import numpy as np
    import pytest

    from downloader_spark.media import (
        _lzw_encode_gif,
        decode_gif_gray,
        encode_gif_gray,
    )

    h, w = 16, 11
    rng = np.random.RandomState(3)
    px = rng.randint(0, 8, (h, w)).astype(np.uint8)  # 8-entry palette

    def build(
        indices: np.ndarray,
        *,
        local: bool,
        interlace: bool,
        palette: np.ndarray,
        with_ext: bool = True,
    ) -> bytes:
        out = bytearray(b"GIF89a")
        gflag = 0x00 if local else (0x80 | 0x70 | 0x02)  # 8-entry global
        out += struct.pack("<HHBBB", w, h, gflag, 0, 0)
        if not local:
            out += palette.tobytes()
        if with_ext:  # graphic control extension rides along
            out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
        iflag = (0x80 | 0x02 if local else 0) | (0x40 if interlace else 0)
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, iflag)
        if local:
            out += palette.tobytes()
        rows = indices
        if interlace:  # file order = pass order
            order = np.concatenate(
                [
                    np.arange(s, h, t)
                    for s, t in ((0, 8), (4, 8), (2, 4), (1, 2))
                ]
            )
            rows = indices[order]
        out.append(3)  # LZW minimum code size for 8 colors
        lzw = _lzw_encode_gif(rows.tobytes(), 3)
        for i in range(0, len(lzw), 255):
            blk = lzw[i : i + 255]
            out.append(len(blk))
            out += blk
        out += b"\x00\x3b"
        return bytes(out)

    # non-identity palette: (r, g, b) = (30i, 20i, 7i) stays inside
    # uint8 for i < 8 and gives luma (299·30 + 587·20 + 114·7)i//1000
    # = 21508i//1000
    pal = np.stack(
        [np.arange(8) * 30, np.arange(8) * 20, np.arange(8) * 7], axis=1
    ).astype(np.uint8)
    want = ((np.arange(8) * 21508) // 1000).astype(np.uint8)[px]
    for local in (False, True):
        for interlace in (False, True):
            got = decode_gif_gray(
                build(px, local=local, interlace=interlace, palette=pal)
            )
            assert np.array_equal(got, want), (local, interlace)
    # no table anywhere is loud
    no_tbl = bytearray(b"GIF89a")
    no_tbl += struct.pack("<HHBBB", w, h, 0, 0, 0)
    no_tbl += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    no_tbl.append(3)
    lzw = _lzw_encode_gif(px.tobytes(), 3)
    no_tbl.append(len(lzw))
    no_tbl += lzw + b"\x00\x3b"
    with pytest.raises(ValueError, match="neither"):
        decode_gif_gray(bytes(no_tbl))
    # an index beyond the active table is loud, not a wrap: 4-entry
    # local table (flag bits 0b01) under indices that reach 7
    hot = bytearray(b"GIF89a")
    hot += struct.pack("<HHBBB", w, h, 0, 0, 0)
    hot += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x80 | 0x01)
    hot += pal[:4].tobytes()
    hot.append(3)
    hot.append(len(lzw))
    hot += lzw + b"\x00\x3b"
    with pytest.raises(ValueError, match="beyond"):
        decode_gif_gray(bytes(hot))
    # identity ramp stays the identity (the encoder's own contract)
    ident = (np.indices((9, 7)).sum(0) % 256).astype(np.uint8)
    assert np.array_equal(decode_gif_gray(encode_gif_gray(ident)), ident)


# --- DEFLATE / zlib inflate ---------------------------------------------


def test_inflate_roundtrip_every_zlib_level():
    """stdlib zlib is the encoder fleet: every level (0 = stored
    blocks, 1 = mostly fixed-Huffman, 6/9 = dynamic-Huffman) must
    decode byte-exactly, including payloads past the 65535-byte
    stored-block cap."""
    import os
    import random
    import zlib

    from downloader_spark.media import zlib_decode

    random.seed(3)
    payloads = [
        b"",
        b"x",
        b"abc" * 4000,                                # overlapping copies
        bytes(random.randrange(256) for _ in range(9000)),
        (b"the quick brown fox jumps " * 600),
        os.urandom(70001),                            # > one stored block
    ]
    for lvl in range(10):
        for p in payloads:
            assert zlib_decode(zlib.compress(p, lvl)) == p


def test_inflate_raw_deflate_and_overlapping_backref():
    import zlib

    from downloader_spark.media import inflate

    p = b"a" * 100000  # distance-1 overlapping copy, the LZ77 edge
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    assert inflate(co.compress(p) + co.flush()) == p


def test_adler32_matches_stdlib():
    import os
    import zlib

    from downloader_spark.media import _adler32

    for n in (0, 1, 5551, 5552, 5553, 20000):
        buf = os.urandom(n)
        assert _adler32(buf) == zlib.adler32(buf), n


def test_inflate_malformed_streams_raise_value_error():
    import zlib

    import pytest

    from downloader_spark.media import zlib_decode

    good = zlib.compress(b"hello world " * 40, 6)
    for bad in (
        b"",
        good[:1],
        good[:-1],                         # truncated trailer
        b"\x79" + good[1:],                # CM = 9, not deflate
        b"\x7f" + good[1:],                # CM = 15, not deflate
        good[:-4] + b"\x00\x00\x00\x00",   # adler mismatch
        good[:2] + b"\x07" + good[3:],     # BTYPE=3 reserved
    ):
        with pytest.raises(ValueError):
            zlib_decode(bad)


# --- gzip multi-member container -----------------------------------------


def test_crc32_matches_stdlib():
    import os
    import zlib

    from downloader_spark.media import crc32

    for n in (0, 1, 255, 5000):
        buf = os.urandom(n)
        assert crc32(buf) == zlib.crc32(buf), n
    # incremental form
    a, b = b"hello ", b"world"
    assert crc32(b, crc32(a)) == zlib.crc32(a + b)


def test_gzip_members_roundtrip_and_cross_reads():
    """Concatenated members from stdlib gzip AND the hand-built
    FNAME writer both parse; stdlib gzip reads the hand-built member
    back (cross-implementation check)."""
    import gzip
    import os

    from downloader_spark.media import encode_gzip_member, gzip_members_decode

    p1 = b"first member " * 30
    p2 = os.urandom(500)
    p3 = b""
    blob = (
        encode_gzip_member(p1, 9, name=b"one.txt")
        + gzip.compress(p2, 0, mtime=0)
        + gzip.compress(p3, 6, mtime=0)
    )
    assert gzip_members_decode(blob) == [p1, p2, p3]
    assert gzip.decompress(encode_gzip_member(p1, 6, name=b"x")) == p1


def test_gzip_fhcrc_and_flag_walk():
    """FHCRC (which stdlib never emits) verifies; a wrong CRC-16,
    CRC-32 or ISIZE each fails loudly."""
    import struct
    import zlib

    import pytest

    from downloader_spark.media import crc32, gzip_members_decode

    payload = b"hcrc payload"
    head = b"\x1f\x8b\x08\x02" + b"\x00\x00\x00\x00\x00\xff"
    head += struct.pack("<H", crc32(head) & 0xFFFF)
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = co.compress(payload) + co.flush()
    tail = struct.pack("<II", crc32(payload), len(payload))
    assert gzip_members_decode(head + body + tail) == [payload]
    bad_h = head[:-2] + struct.pack("<H", (crc32(head[:-2]) ^ 1) & 0xFFFF)
    with pytest.raises(ValueError):
        gzip_members_decode(bad_h + body + tail)
    bad_crc = struct.pack("<II", crc32(payload) ^ 1, len(payload))
    with pytest.raises(ValueError):
        gzip_members_decode(head + body + bad_crc)
    bad_sz = struct.pack("<II", crc32(payload), len(payload) + 1)
    with pytest.raises(ValueError):
        gzip_members_decode(head + body + bad_sz)


def test_gzip_malformed_containers_raise_value_error():
    import gzip

    import pytest

    from downloader_spark.media import gzip_members_decode

    good = gzip.compress(b"payload " * 20, 6, mtime=0)
    for bad in (
        b"",
        b"\x1f\x8c" + good[2:],        # bad magic
        good[:2] + b"\x07" + good[3:],  # CM not deflate
        good[:3] + b"\xe0" + good[4:],  # reserved FLG bits
        good[:-1],                      # truncated trailer
        good + good[:5],                # trailing garbage member
    ):
        with pytest.raises(ValueError):
            gzip_members_decode(bad)


# --- ZIP central-directory walk -------------------------------------------


def test_zip_roundtrip_and_cross_reads():
    """Our walker reads our archives AND stdlib zipfile's; stdlib
    zipfile reads ours (cross-implementation agreement both ways)."""
    import io
    import zipfile

    from downloader_spark.media import encode_zip, zip_entries_decode

    entries = [
        ("a.txt", b"hello " * 50, 8),
        ("b.bin", bytes(range(256)), 0),
        ("empty", b"", 8),
    ]
    blob = encode_zip(entries)
    assert zip_entries_decode(blob) == entries
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert [(i.filename, zf.read(i.filename)) for i in zf.infolist()] == [
        (n, p) for n, p, _ in entries
    ]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("x.txt", b"quick brown fox " * 100)
    got = zip_entries_decode(buf.getvalue())
    assert [(n, p) for n, p, _ in got] == [
        ("x.txt", b"quick brown fox " * 100)
    ]


def test_zip_walks_central_directory_not_local_headers():
    """Offsets are absolute, so PREPENDED junk (the self-extractor
    stub shape) breaks the central-directory walk loudly instead of
    silently trusting whatever local header happens to align; a
    flipped payload bit is caught by the CRC."""
    import pytest

    from downloader_spark.media import encode_zip, zip_entries_decode

    blob = encode_zip([("f", b"payload" * 10, 8)])
    with pytest.raises(ValueError):
        zip_entries_decode(b"\x00" * 40 + blob)
    # flipping a payload bit -> CRC (or the inflater) catches it
    body = bytearray(blob)
    body[35] ^= 0x01
    with pytest.raises(ValueError):
        zip_entries_decode(bytes(body))


def test_zip_malformed_containers_raise_value_error():
    import pytest

    from downloader_spark.media import encode_zip, zip_entries_decode

    blob = encode_zip([("f", b"data" * 20, 8), ("g", b"stored", 0)])
    for bad in (
        b"",
        b"PK\x05\x06" + b"\x00" * 10,   # truncated EOCD
        blob[:-3],                       # truncated EOCD tail
        blob[4:],                        # local sig no longer at offset
    ):
        with pytest.raises(ValueError):
            zip_entries_decode(bad)
    with pytest.raises(ValueError):
        encode_zip([("f", b"x", 99)])


# --- tar (ustar) ---------------------------------------------------------


def test_tar_roundtrip_and_cross_reads():
    """Our walker and stdlib tarfile read each other's archives,
    including empty files and block-padding boundaries."""
    import io
    import tarfile

    from downloader_spark.media import encode_tar, tar_members_decode

    entries = [
        ("a.txt", b"hello tar " * 30),
        ("dir/b.bin", bytes(range(200))),
        ("empty", b""),
        ("block", b"x" * 512),  # exact block multiple: zero padding
    ]
    blob = encode_tar(entries)
    assert tar_members_decode(blob) == entries
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    assert [
        (m.name, tf.extractfile(m).read()) for m in tf.getmembers()
    ] == entries
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as t:
        for n, p in entries:
            info = tarfile.TarInfo(n)
            info.size = len(p)
            t.addfile(info, io.BytesIO(p))
    assert tar_members_decode(buf.getvalue()) == entries


def test_tar_gz_chain():
    """tar.gz = gzip_members_decode ∘ tar_members_decode, all
    from-scratch decode layers."""
    from downloader_spark.media import (
        encode_gzip_member,
        encode_tar,
        gzip_members_decode,
        tar_members_decode,
    )

    entries = [("f0", b"alpha" * 40), ("f1", b"beta" * 77)]
    tgz = encode_gzip_member(encode_tar(entries), 9)
    assert tar_members_decode(gzip_members_decode(tgz)[0]) == entries


def test_tar_malformed_archives_raise_value_error():
    import pytest

    from downloader_spark.media import encode_tar, tar_members_decode

    blob = encode_tar([("f", b"data" * 50)])
    corrupt = bytearray(blob)
    corrupt[10] ^= 0xFF  # name byte flips -> checksum mismatch
    for bad in (
        blob[:511],                 # not a block multiple
        blob[: len(blob) - 1024],   # zero terminator removed
        bytes(corrupt),
        blob[:512],                 # header without payload/terminator
    ):
        with pytest.raises(ValueError):
            tar_members_decode(bad)
    with pytest.raises(ValueError):
        encode_tar([("x" * 101, b"")])  # name too long


# --- WARC (ISO 28500) ------------------------------------------------------


def test_warc_roundtrip_through_gzip_framing():
    """Per-record gzip members (the real .warc.gz framing) decode
    through both from-scratch layers; headers and payloads survive."""
    from downloader_spark.media import (
        encode_gzip_member,
        encode_warc_record,
        gzip_members_decode,
        parse_warc_records,
    )

    r1 = encode_warc_record(
        {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:1>"},
        b"software: test\r\n",
    )
    body = b"HTTP/1.1 200 OK\r\n\r\nhello body " * 5
    r2 = encode_warc_record(
        {"WARC-Type": "response", "WARC-Target-URI": "http://x/"}, body
    )
    wgz = encode_gzip_member(r1, 6) + encode_gzip_member(r2, 9)
    records = parse_warc_records(b"".join(gzip_members_decode(wgz)))
    assert [h["WARC-Type"] for h, _ in records] == ["warcinfo", "response"]
    assert records[1][1] == body
    # payloads containing CRLF CRLF must not confuse the walk:
    # Content-Length drives the read, not delimiter scanning
    tricky = b"a\r\n\r\nb\r\n\r\nc"
    r3 = encode_warc_record({"WARC-Type": "resource"}, tricky)
    assert parse_warc_records(r3)[0][1] == tricky


def test_warc_malformed_records_raise_value_error():
    import pytest

    from downloader_spark.media import encode_warc_record, parse_warc_records

    good = encode_warc_record({"WARC-Type": "resource"}, b"payload")
    for bad in (
        b"",
        b"WARC/2.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n",  # wrong version
        good[:-2],                        # trailer clipped
        good[:20],                        # header block unterminated
        good.replace(b"Content-Length: 7", b"Content-Hmm: 7"),
        good.replace(b"\r\n\r\npayload", b"\r\n\r\npayloadXX", 1),
    ):
        with pytest.raises(ValueError):
            parse_warc_records(bad)
    with pytest.raises(ValueError):
        encode_warc_record({"Content-Length": "5"}, b"x")


# --- HTTP chunked transfer coding ------------------------------------------


def test_http_chunked_roundtrip_variants():
    from downloader_spark.media import decode_http_chunked, encode_http_chunked

    p = bytes(range(256)) * 3
    for sizes, ext in ([[7, 19, 33], False], [[1], True], [[1000], False]):
        assert decode_http_chunked(encode_http_chunked(p, sizes, ext)) == p
    assert decode_http_chunked(encode_http_chunked(b"", [5])) == b""
    # trailer fields after the zero chunk are skipped per spec
    blob = encode_http_chunked(b"abc", [2])[:-2] + b"X-Check: 1\r\n\r\n"
    assert decode_http_chunked(blob) == b"abc"


def test_http_chunked_malformed_raise_value_error():
    import pytest

    from downloader_spark.media import decode_http_chunked

    for bad in (
        b"",
        b"zz\r\nab\r\n0\r\n\r\n",       # non-hex size
        b"3\r\nab\r\n0\r\n\r\n",        # chunk shorter than size
        b"3\r\nabc\r\n0\r\n",           # trailer section unterminated
        b"3\r\nabcXX0\r\n\r\n",         # chunk not CRLF-terminated
        b"3\r\nabc\r\n0\r\n\r\nextra",  # bytes after the message
    ):
        with pytest.raises(ValueError):
            decode_http_chunked(bad)


# --- parquet footer (thrift compact) ----------------------------------------


def test_parquet_footer_matches_pyarrow_on_fixtures():
    import pyarrow.parquet as pq

    from downloader_spark.media import parse_parquet_footer

    for t in ("region", "documents", "events", "lineitem"):
        path = f"/root/testdata/sf0.001/{t}.parquet"
        meta = parse_parquet_footer(open(path, "rb").read())
        ref = pq.ParquetFile(path).metadata
        assert meta["num_rows"] == ref.num_rows, t
        assert meta["n_leaf_columns"] == ref.num_columns, t
        assert meta["n_row_groups"] == ref.num_row_groups, t
        assert meta["created_by"] == ref.created_by, t


def test_parquet_footer_nested_schema_and_multi_row_group():
    """Leaf counting must descend nested groups (struct columns) and
    the row-group list walk must skip every RowGroup struct fully."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from downloader_spark.media import parse_parquet_footer

    tbl = pa.table(
        {
            "a": list(range(10000)),
            "s": [{"x": i, "y": str(i)} for i in range(10000)],
        }
    )
    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as f:
        pq.write_table(tbl, f.name, row_group_size=1000, compression="snappy")
    try:
        meta = parse_parquet_footer(open(f.name, "rb").read())
        ref = pq.ParquetFile(f.name).metadata
        assert meta["num_rows"] == 10000
        assert meta["n_row_groups"] == ref.num_row_groups == 10
        assert meta["n_leaf_columns"] == ref.num_columns == 3  # a, s.x, s.y
    finally:
        os.unlink(f.name)


def test_parquet_footer_malformed_raise_value_error():
    import pytest

    from downloader_spark.media import parse_parquet_footer

    good = open("/root/testdata/sf0.001/region.parquet", "rb").read()
    for bad in (
        b"",
        b"PAR1\x00\x00PAR1",                  # shorter than a footer
        b"PAR1" + b"\x00" * 20,               # no trailing magic
        good[:-8] + b"\xff\xff\xff\x7f" + b"PAR1",  # absurd footer len
        good[:-8] + b"\x00\x00\x00\x00" + b"PAR1",  # zero-length footer
    ):
        with pytest.raises(ValueError):
            parse_parquet_footer(bad)


def test_thrift_skip_consumes_bool_list_elements():
    """Compact-protocol bool STRUCT FIELDS are zero-width (value in
    the type nibble) but bool LIST ELEMENTS are one byte each; a
    skip that treats them as zero-width desynchronizes everything
    after the list."""
    from downloader_spark.media import _ThriftCompact

    # struct { 1: list<bool> [true,false,true]; 2: i32 42; }
    data = bytes(
        [0x19, 0x31, 0x01, 0x02, 0x01, 0x15, 0x54, 0x00]
    )
    tc = _ThriftCompact(data)
    seen = {}
    for fid, ftype in tc.fields():
        if fid == 2:
            seen[fid] = tc.zigzag()
        else:
            tc.skip(ftype)
    assert seen == {2: 42}
    assert tc.pos == len(data)

    # same stream nested one struct deeper: the generic struct skip
    # must also stay in sync across the bool list
    nested = bytes([0x1C]) + data + bytes([0x15, 0x54, 0x00])
    tc = _ThriftCompact(nested)
    seen = {}
    for fid, ftype in tc.fields():
        if fid == 2:
            seen[fid] = tc.zigzag()
        else:
            tc.skip(ftype)
    assert seen == {2: 42}
    assert tc.pos == len(nested)


def test_gif_lzw_decoder_handles_midstream_clear_codes():
    """Our encoder never emits a mid-stream CLEAR, but real GIF
    writers do — hand-pack a stream that codes 'abab', CLEARs, then
    codes 'ab' again, and the decoder must reset its table/width."""
    from downloader_spark.media import _lzw_decode_gif

    acc = 0
    nacc = 0
    out = bytearray()

    def emit(code, width):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    clear, eoi = 256, 257
    emit(clear, 9)
    emit(97, 9)   # a            (defines nothing yet)
    emit(98, 9)   # b            (table[258] = 'ab')
    emit(258, 9)  # 'ab'         (table[259] = 'ba')
    emit(clear, 9)  # mid-stream reset
    emit(97, 9)
    emit(98, 9)
    emit(eoi, 9)
    if nacc:
        out.append(acc & 0xFF)
    assert _lzw_decode_gif(bytes(out), 8, 6) == b"ababab"


def test_inflate_roundtrip_property():
    """Hypothesis sweep: arbitrary byte payloads through every zlib
    strategy-relevant level decode byte-exactly."""
    import zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from downloader_spark.media import zlib_decode

    @given(st.binary(max_size=4096), st.sampled_from([0, 1, 6, 9]))
    @settings(max_examples=60, deadline=None)
    def check(payload, level):
        assert zlib_decode(zlib.compress(payload, level)) == payload

    check()


def test_gif_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from downloader_spark.media import decode_gif_gray, encode_gif_gray

    @given(
        st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1)
    )
    @settings(max_examples=40, deadline=None)
    def check(h, w, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert np.array_equal(decode_gif_gray(encode_gif_gray(px)), px)

    check()


def test_crc32_property_against_stdlib():
    import zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from downloader_spark.media import _adler32, crc32

    @given(st.binary(max_size=20000))
    @settings(max_examples=50, deadline=None)
    def check(buf):
        assert crc32(buf) == zlib.crc32(buf)
        assert _adler32(buf) == zlib.adler32(buf)

    check()


# --- parquet data pages (snappy + RLE hybrid + PLAIN) ------------------------


def _pq_write(tbl, **kw):
    import os
    import tempfile

    import pyarrow.parquet as pq

    f = tempfile.NamedTemporaryFile(suffix=".parquet", delete=False)
    f.close()
    pq.write_table(tbl, f.name, **kw)
    data = open(f.name, "rb").read()
    os.unlink(f.name)
    return data


def _col_table():
    import pyarrow as pa

    n = 3000
    return pa.table(
        {
            "i32": pa.array(
                [None if k % 11 == 0 else (k * 7) % 997 for k in range(n)],
                pa.int32(),
            ),
            "i64": pa.array(
                [None if k % 13 == 0 else k * k for k in range(n)],
                pa.int64(),
            ),
            "f64": pa.array(
                [None if k % 17 == 0 else k / 3.0 for k in range(n)],
                pa.float64(),
            ),
            "s": pa.array(
                [
                    None if k % 7 == 0 else f"value-{k % 50}-{'x' * (k % 9)}"
                    for k in range(n)
                ],
                pa.string(),
            ),
            "b": pa.array(
                [None if k % 19 == 0 else bool(k % 3) for k in range(n)],
                pa.bool_(),
            ),
        }
    )


def _assert_reads_back(data, tbl):
    import math

    from downloader_spark.media import read_parquet_column

    for name in tbl.column_names:
        got = read_parquet_column(data, name)
        want = tbl.column(name).to_pylist()
        if any(isinstance(w, str) for w in want):
            got = [None if g is None else g.decode() for g in got]
        if name == "f64":
            assert len(got) == len(want)
            for g, w in zip(got, want):
                assert (g is None) == (w is None)
                if g is not None:
                    assert g == w or (math.isnan(g) and math.isnan(w))
        else:
            assert got == want, name


def test_parquet_pages_roundtrip_every_writer_config():
    """Our page reader vs pyarrow's writer across the codec, encoding,
    page-version, and row-group axes — nulls in every column."""
    tbl = _col_table()
    for kw in (
        dict(compression="snappy"),
        dict(compression="none"),
        dict(compression="gzip"),
        dict(compression="snappy", use_dictionary=False),  # PLAIN pages
        dict(compression="snappy", data_page_version="2.0"),
        dict(compression="none", data_page_version="2.0"),
        dict(
            compression="gzip",
            use_dictionary=False,
            data_page_version="2.0",
        ),
        dict(compression="snappy", row_group_size=700),  # 5 row groups
        dict(compression="snappy", data_page_size=1024),  # many pages
    ):
        _assert_reads_back(_pq_write(tbl, **kw), tbl)


def test_parquet_pages_required_columns_no_def_levels():
    """A REQUIRED (non-nullable) schema writes no definition levels;
    the reader must not try to consume any."""
    import pyarrow as pa

    tbl = pa.table(
        {
            "k": pa.array(list(range(100)), pa.int64()),
            "v": pa.array([f"r{k}" for k in range(100)], pa.string()),
        },
        schema=pa.schema(
            [pa.field("k", pa.int64(), nullable=False),
             pa.field("v", pa.string(), nullable=False)]
        ),
    )
    _assert_reads_back(_pq_write(tbl, compression="snappy"), tbl)


def test_parquet_pages_nested_struct_and_repeated_rejected():
    import pyarrow as pa
    import pytest

    from downloader_spark.media import read_parquet_column

    tbl = pa.table(
        {
            "st": pa.array(
                [{"x": k, "y": str(k)} for k in range(50)],
            ),
            "ls": pa.array([[1, 2, k] for k in range(50)]),
        }
    )
    data = _pq_write(tbl, compression="snappy")
    # struct leaves decode fine (def level 1 deep, flat physically)
    assert read_parquet_column(data, "st.x") == list(range(50))
    assert [v.decode() for v in read_parquet_column(data, "st.y")] == [
        str(k) for k in range(50)
    ]
    # repeated (list) leaves are loudly unsupported
    with pytest.raises(ValueError, match="repeated"):
        read_parquet_column(data, "ls.list.element")
    with pytest.raises(ValueError, match="no such column"):
        read_parquet_column(data, "missing")


def test_snappy_decode_handcrafted_vectors():
    """Hand-packed snappy blocks: literals, each copy width, and the
    overlapping back-reference (run replication) the format allows."""
    from downloader_spark.media import snappy_decode

    # literal only: len=5 -> tag (4<<2)|0
    assert snappy_decode(bytes([5, 4 << 2]) + b"hello") == b"hello"
    # 1-byte-offset copy: "abcabcab" = literal "abc" + copy(off=3,len=5)
    blk = bytes([8, 2 << 2]) + b"abc" + bytes([((5 - 4) << 2) | 1 | (0 << 5), 3])
    assert snappy_decode(blk) == b"abcabcab"
    # overlapping copy: "aaaaaaaa" = literal "a" + copy(off=1,len=7)
    blk = bytes([8, 0 << 2]) + b"a" + bytes([((7 - 4) << 2) | 1, 1])
    assert snappy_decode(blk) == b"a" * 8
    # 2-byte-offset copy
    blk = bytes([8, 2 << 2]) + b"xyz" + bytes([((5 - 1) << 2) | 2, 3, 0])
    assert snappy_decode(blk) == b"xyzxyzxy"
    # 60-marker literal length (1 extra byte)
    payload = bytes(range(100))
    blk = bytes([100, (60 << 2) | 0, 99]) + payload
    assert snappy_decode(blk) == payload


def test_snappy_decode_rejects_malformed():
    import pytest

    from downloader_spark.media import snappy_decode

    for bad in (
        b"",                                   # no preamble
        bytes([5, 4 << 2]) + b"hi",            # truncated literal
        bytes([5, 0 << 2]) + b"a" + bytes([1, 9]),  # offset beyond output
        bytes([9, 4 << 2]) + b"hello",         # length mismatch
    ):
        with pytest.raises(ValueError):
            snappy_decode(bad)


def test_snappy_decode_rejects_oversized_preamble_before_allocating():
    """A 6-byte corrupt block whose preamble claims 1 GiB fails with
    ValueError before the output buffer is sized from the claim."""
    import tracemalloc

    import pytest

    from downloader_spark.media import snappy_decode

    blk = bytes([0x80, 0x80, 0x80, 0x80, 0x04, 0x00])  # varint 1 << 30
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="maximum expansion"):
            snappy_decode(blk)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20
    # the densest element (3-byte copy tag, 64 bytes out) still decodes
    blk = bytes([65, 0]) + b"a" + bytes([(63 << 2) | 2, 1, 0])
    assert snappy_decode(blk) == b"a" * 65


def test_snappy_decode_matches_pyarrow_compressor():
    """Differential against pyarrow's real snappy compressor on
    structured and random payloads."""
    import numpy as np
    import pyarrow as pa

    from downloader_spark.media import snappy_decode

    rng = np.random.RandomState(3)
    payloads = [
        b"",
        b"a" * 10000,
        bytes(rng.randint(0, 256, 5000, dtype=np.uint8)),
        (b"abcdef" * 1000)[:4321],
        open("/root/testdata/sf0.001/region.parquet", "rb").read(),
    ]
    for p in payloads:
        comp = pa.compress(p, codec="snappy", asbytes=True)
        assert snappy_decode(comp) == p


def test_parquet_pages_match_duckdb_on_fixture_tables():
    """End-to-end: decoded doc_id/lang values equal DuckDB's scan."""
    import duckdb

    from downloader_spark.media import read_parquet_column

    path = "/root/testdata/sf0.001/documents.parquet"
    data = open(path, "rb").read()
    con = duckdb.connect()
    want = con.execute(
        f"SELECT doc_id, lang, text FROM read_parquet('{path}')"
    ).fetchall()
    got = list(
        zip(
            read_parquet_column(data, "doc_id"),
            (v.decode() for v in read_parquet_column(data, "lang")),
            (v.decode() for v in read_parquet_column(data, "text")),
        )
    )
    assert got == want


def test_parquet_pages_delta_encodings_match_pyarrow():
    """DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY
    (the parquet v2 value encodings) against pyarrow's writer, with
    nulls, negative deltas, and every codec."""
    import pyarrow as pa

    n = 5000
    tbl = pa.table(
        {
            "i": pa.array(
                [None if k % 11 == 0 else k * k - 7 * k for k in range(n)],
                pa.int64(),
            ),
            "i3": pa.array(
                [
                    None if k % 13 == 0 else (k * 37) % 10000 - 5000
                    for k in range(n)
                ],
                pa.int32(),
            ),
            "s": pa.array(
                [
                    None if k % 7 == 0 else f"prefix-{k % 100}-suffix{k}"
                    for k in range(n)
                ]
            ),
            "s2": pa.array(
                [None if k % 9 == 0 else f"val{k}" for k in range(n)]
            ),
        }
    )
    enc = {
        "i": "DELTA_BINARY_PACKED",
        "i3": "DELTA_BINARY_PACKED",
        "s": "DELTA_BYTE_ARRAY",
        "s2": "DELTA_LENGTH_BYTE_ARRAY",
    }
    for comp in ("none", "snappy", "gzip"):
        data = _pq_write(
            tbl, use_dictionary=False, compression=comp, column_encoding=enc
        )
        _assert_reads_back(data, tbl)


def test_delta_binary_packed_handcrafted():
    """Hand-built DELTA_BINARY_PACKED stream: block_size 8, 2
    miniblocks of 4, negative min_delta, partial last miniblock."""
    from downloader_spark.media import _delta_binary_packed

    def vi(n):  # unsigned varint
        out = b""
        while True:
            b, n = n & 0x7F, n >> 7
            out += bytes([b | (0x80 if n else 0)])
            if not n:
                return out

    def zz(n):
        return vi((n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1)

    # values: 10, 9, 8, 7, 6 -> deltas all -1; min_delta=-1, width 0
    buf = vi(8) + vi(2) + vi(5) + zz(10) + zz(-1) + bytes([0, 0])
    vals, _pos = _delta_binary_packed(buf, 0)
    assert vals == [10, 9, 8, 7, 6]


# --- snappy ENCODER + parquet WRITER (the encode twins) ----------------------


def test_snappy_encode_roundtrips_and_pyarrow_decodes_it():
    import numpy as np
    import pyarrow as pa

    from downloader_spark.media import snappy_decode, snappy_encode

    rng = np.random.RandomState(5)
    cases = [
        b"",
        b"a",
        b"abc",
        b"a" * 100000,                      # max-overlap run
        b"hello world! " * 5000,            # long 2-byte-offset matches
        bytes(rng.randint(0, 256, 65536, dtype=np.uint8)),   # incompressible
        bytes(rng.randint(0, 4, 200000, dtype=np.uint8)),    # low-entropy
        open("/root/testdata/sf0.001/lineitem.parquet", "rb").read(),
        bytes(range(256)) * 3,               # short periodic
    ]
    for c in cases:
        enc = snappy_encode(c)
        assert snappy_decode(enc) == c
        assert (
            pa.decompress(
                enc, decompressed_size=len(c), codec="snappy", asbytes=True
            )
            == c
        )


def test_snappy_encode_hypothesis_roundtrip():
    from hypothesis import given, settings, strategies as st

    from downloader_spark.media import snappy_decode, snappy_encode

    @settings(max_examples=80, deadline=None)
    @given(st.binary(max_size=4096))
    def check(payload):
        assert snappy_decode(snappy_encode(payload)) == payload

    check()


def test_parquet_writer_read_back_by_pyarrow_duckdb_and_our_reader():
    import io
    import os
    import tempfile

    import duckdb
    import pyarrow.parquet as pq

    from downloader_spark.media import encode_parquet, read_parquet_column

    n = 2000
    cols = {
        "k": [None if i % 7 == 0 else i * 3 - 500 for i in range(n)],
        "name": [
            None if i % 5 == 0 else f"row-{i}-é{'x' * (i % 11)}"
            for i in range(n)
        ],
        "score": [None if i % 9 == 0 else i / 16.0 - 3.0 for i in range(n)],
        "flag": [None if i % 13 == 0 else bool(i % 2) for i in range(n)],
        "allnull": [None] * n,
        "empty": ["" if i % 2 else "e" for i in range(n)],
    }
    for comp in ("snappy", "none"):
        data = encode_parquet(cols, compression=comp)
        # our own reader round-trips
        assert read_parquet_column(data, "k") == cols["k"]
        assert [
            v if v is None else v.decode()
            for v in read_parquet_column(data, "name")
        ] == cols["name"]
        assert read_parquet_column(data, "flag") == cols["flag"]
        assert read_parquet_column(data, "allnull") == cols["allnull"]
        # pyarrow reads the whole file
        t = pq.read_table(io.BytesIO(data))
        assert t.num_rows == n
        assert t.column("k").to_pylist() == cols["k"]
        assert t.column("name").to_pylist() == cols["name"]
        assert t.column("score").to_pylist() == cols["score"]
        assert t.column("empty").to_pylist() == cols["empty"]
        # duckdb scans + aggregates it
        f = tempfile.NamedTemporaryFile(suffix=".parquet", delete=False)
        f.write(data)
        f.close()
        try:
            got = duckdb.sql(
                f"SELECT count(*), count(k), sum(k)"
                f" FROM read_parquet('{f.name}')"
            ).fetchone()
            want_k = [v for v in cols["k"] if v is not None]
            assert got == (n, len(want_k), sum(want_k))
        finally:
            os.unlink(f.name)


def test_parquet_writer_rejects_bad_input():
    import pytest

    from downloader_spark.media import encode_parquet

    with pytest.raises(ValueError):
        encode_parquet({})
    with pytest.raises(ValueError):
        encode_parquet({"a": [1, 2], "b": [1]})
    with pytest.raises(ValueError):
        encode_parquet({"a": [object()]})


def test_delta_binary_packed_int64_boundary_values():
    """Width-64 miniblocks carry deltas that wrap mod 2^64; the
    accumulator must reduce back into signed int64 (regression: the
    raw Python sum returned values outside int64 entirely)."""
    import pyarrow as pa

    from downloader_spark.media import read_parquet_column

    vals = [-(2**62), 2**62, -(2**60), 2**61, 0, -1, 2**62 - 1, -(2**63)]
    tbl = pa.table({"x": pa.array(vals, pa.int64())})
    data = _pq_write(
        tbl,
        use_dictionary=False,
        compression="none",
        column_encoding={"x": "DELTA_BINARY_PACKED"},
    )
    assert read_parquet_column(data, "x") == vals


def test_decode_wav_raises_value_error_on_corrupt_riff():
    """Every media decoder shares the ValueError contract; the stdlib
    wave module's wave.Error / EOFError / RuntimeError must not leak
    (they would kill a whole Spark task instead of producing the loud
    'error:wav' row)."""
    import pytest

    from downloader_spark.media import decode_wav

    for bad in (
        b"RIFF\x24\x00\x00\x00WAVEjunkchunk!!!",
        b"RIFF\x04\x00\x00\x00WAVE",
        b"RIFFxxxx",
        b"RIFF\xff\xff\x00\x00WAVEfmt \x00\x00\x00\x00",
    ):
        with pytest.raises(ValueError):
            decode_wav(bad)


def test_rle_hybrid_truncated_run_value_raises():
    """A page whose RLE stream is cut mid-run must raise, not decode
    the missing value bytes as zero."""
    import pytest

    from downloader_spark.media import _rle_hybrid

    # header says: RLE run of 8 values, but the value byte is missing
    with pytest.raises(ValueError, match="truncated RLE run"):
        _rle_hybrid(bytes([8 << 1]), 0, 8, 8)


def test_sniff_charset_unknown_meta_name_falls_back():
    from downloader_spark.operators.round14_ext import sniff_charset

    page = '<html><head><meta charset="x-bogus"></head><body>hi</body></html>'
    cs, method, text = sniff_charset(page.encode("utf-8"))
    assert (cs, method) == ("utf-8", "heuristic")
    assert text == page


def test_parquet_pages_byte_stream_split_matches_pyarrow():
    """BYTE_STREAM_SPLIT (the float-oriented v2 encoding: k planar
    byte streams transposed back per value) for float32/float64/int64
    under both codecs, with nulls."""
    import pyarrow as pa

    n = 3000
    tbl = pa.table(
        {
            "f": pa.array(
                [None if k % 7 == 0 else k / 3.0 - 100 for k in range(n)],
                pa.float64(),
            ),
            "f4": pa.array(
                [None if k % 5 == 0 else float(k) * 0.25 for k in range(n)],
                pa.float32(),
            ),
            "i": pa.array(
                [None if k % 9 == 0 else k * 11 - 333 for k in range(n)],
                pa.int64(),
            ),
        }
    )
    enc = {c: "BYTE_STREAM_SPLIT" for c in tbl.column_names}
    from downloader_spark.media import read_parquet_column

    for comp in ("none", "snappy"):
        data = _pq_write(
            tbl, use_dictionary=False, compression=comp, column_encoding=enc
        )
        for name in tbl.column_names:
            got = read_parquet_column(data, name)
            want = tbl.column(name).to_pylist()
            assert len(got) == len(want)
            for g, w in zip(got, want):
                assert (g is None) == (w is None)
                if g is not None:
                    # float32 round-trips through float64 repr
                    assert g == w or abs(g - w) < 1e-6


def test_parquet_page_group_union_matches_full_decode():
    """read_parquet_column_page_group (the r17 intra-chunk parallel
    unit behind multimodal_parquet_pages): for every column, every
    group width, and both page versions, the multiset union of all
    groups' values equals the full decode, per-group order follows
    file order, and out-of-range groups raise."""
    from collections import Counter

    import pytest

    from downloader_spark.media import (
        read_parquet_column,
        read_parquet_column_page_group,
    )

    tbl = _col_table()
    for kw in (
        dict(compression="snappy", data_page_size=1024),  # many pages
        dict(compression="gzip", data_page_size=4096, use_dictionary=False),
        dict(compression="snappy", data_page_version="2.0", data_page_size=2048),
        dict(compression="snappy", row_group_size=700),  # 5 row groups
        dict(compression="none"),  # single data page per chunk
    ):
        data = _pq_write(tbl, **kw)
        for name in tbl.column_names:
            full = read_parquet_column(data, name)
            for n_groups in (1, 3, 8):
                parts = [
                    read_parquet_column_page_group(data, name, g, n_groups)
                    for g in range(n_groups)
                ]
                assert Counter(map(repr, full)) == Counter(
                    repr(v) for p in parts for v in p
                ), (kw, name, n_groups)
            # n_groups=1 must ALSO preserve exact order (it is the
            # full walk)
            assert read_parquet_column_page_group(data, name, 0, 1) == full
        with pytest.raises(ValueError):
            read_parquet_column_page_group(data, "i64", 8, 8)
        with pytest.raises(ValueError):
            read_parquet_column_page_group(data, "i64", -1, 8)


def test_parquet_pages_lz4_raw_codec_and_block_decoder():
    """LZ4_RAW pages (pyarrow compression='lz4') through the
    from-scratch LZ4 block decoder, plus raw-block differentials
    against pyarrow's compressor and malformed-input errors."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from downloader_spark.media import lz4_raw_decode, read_parquet_column

    n = 4000
    tbl = pa.table(
        {
            "i": pa.array(
                [None if k % 7 == 0 else k * 3 for k in range(n)], pa.int64()
            ),
            "s": pa.array(
                [None if k % 5 == 0 else f"row-{k % 100}" for k in range(n)]
            ),
        }
    )
    data = _pq_write(tbl, compression="lz4")
    _assert_reads_back(data, tbl)

    rng = np.random.RandomState(2)
    for payload in (
        b"",
        b"abc",
        b"hello world " * 3000,
        b"a" * 100000,
        bytes(rng.randint(0, 9, 50000, dtype=np.uint8)),
        bytes(rng.randint(0, 256, 20000, dtype=np.uint8)),
    ):
        comp = pa.compress(payload, codec="lz4_raw", asbytes=True)
        assert lz4_raw_decode(comp) == payload

    # a stream ending right after literals is the VALID final
    # sequence (no match follows) — spec, not leniency
    assert lz4_raw_decode(bytes([0x12]) + b"x") == b"x"
    for bad in (
        bytes([0xF0]),              # literal-length extension missing
        bytes([0x50]) + b"ab",      # truncated literals
        bytes([0x12]) + b"x" + bytes([9]),     # half a match offset
        bytes([0x12]) + b"x" + bytes([9, 0]),  # offset beyond output
    ):
        with pytest.raises(ValueError):
            lz4_raw_decode(bad)


# --- ZSTD (RFC 8878) ---------------------------------------------------------


def test_zstd_decode_matches_pyarrow_compressor_battery():
    """Frames from pyarrow's real zstd compressor decoded back
    byte-exactly: runs, periodic data, text, random at several
    entropies, whole parquet files (multi-block at ~1 MB), empty."""
    import numpy as np
    import pyarrow as pa

    from downloader_spark.media import zstd_decode

    rng = np.random.RandomState(7)
    cases = [
        b"",
        b"a",
        b"abc",
        b"a" * 10000,
        b"hello world, this is a test of the zstd decoder! " * 500,
        bytes(rng.randint(0, 256, 5000, dtype=np.uint8)),
        bytes(rng.randint(0, 5, 50000, dtype=np.uint8)),
        open("/root/testdata/sf0.001/lineitem.parquet", "rb").read(),
        open("/root/testdata/sf0.01/lineitem.parquet", "rb").read(),
        b"ab" * 50000,
        bytes(range(256)) * 2000,
        b"".join(bytes([i % 251]) * ((i % 37) + 1) for i in range(5000)),
        bytes(rng.randint(0, 2, 300000, dtype=np.uint8)),
    ]
    for payload in cases:
        comp = pa.compress(payload, codec="zstd", asbytes=True)
        assert zstd_decode(comp) == payload


def test_zstd_decode_fuzz_roundtrip():
    import numpy as np
    import pyarrow as pa

    from downloader_spark.media import zstd_decode

    rng = np.random.RandomState(99)
    for trial in range(60):
        kind = trial % 4
        n = int(rng.randint(0, 60000))
        if kind == 0:
            payload = bytes(rng.randint(0, 256, n, dtype=np.uint8))
        elif kind == 1:
            payload = bytes(
                rng.randint(0, int(rng.randint(2, 40)), n, dtype=np.uint8)
            )
        elif kind == 2:
            unit = bytes(
                rng.randint(0, 256, int(rng.randint(1, 50)), dtype=np.uint8)
            )
            payload = (unit * (n // max(1, len(unit)) + 1))[:n]
        else:
            words = [
                bytes(rng.randint(97, 123, int(rng.randint(2, 12)),
                                  dtype=np.uint8))
                for _ in range(30)
            ]
            payload = b" ".join(
                words[int(i)] for i in rng.randint(0, 30, n // 6 + 1)
            )[:n]
        comp = pa.compress(payload, codec="zstd", asbytes=True)
        assert zstd_decode(comp) == payload, (trial, kind, n)


def test_zstd_parquet_pages_read_back():
    import pyarrow as pa

    from downloader_spark.media import read_parquet_column

    n = 5000
    tbl = pa.table(
        {
            "i": pa.array(
                [None if k % 7 == 0 else k * 3 - 999 for k in range(n)],
                pa.int64(),
            ),
            "s": pa.array(
                [None if k % 5 == 0 else f"row-{k % 200}-{k}"
                 for k in range(n)]
            ),
        }
    )
    data = _pq_write(tbl, compression="zstd")
    _assert_reads_back(data, tbl)


def test_zstd_decode_rejects_malformed():
    import pytest

    from downloader_spark.media import zstd_decode

    good = __import__("pyarrow").compress(
        b"hello hello hello", codec="zstd", asbytes=True
    )
    for bad in (
        b"\x00\x01\x02\x03",          # bad magic
        good[:6],                      # truncated header/block
        good[:-1],                     # truncated final block
        good[:4] + b"\xff" + good[5:],  # reserved/invalid descriptor bits
    ):
        with pytest.raises((ValueError, IndexError)):
            zstd_decode(bad)


def test_zstd_skippable_frame_is_skipped():
    import struct

    import pyarrow as pa

    from downloader_spark.media import zstd_decode

    payload = b"data after a skippable frame" * 10
    skip = struct.pack("<II", 0x184D2A50, 7) + b"x" * 7
    comp = pa.compress(payload, codec="zstd", asbytes=True)
    assert zstd_decode(skip + comp) == payload


def test_zstd_store_encoder_accepted_by_pyarrow_and_our_decoder():
    import numpy as np
    import pyarrow as pa

    from downloader_spark.media import zstd_decode, zstd_encode_store

    rng = np.random.RandomState(3)
    for payload in (
        b"",
        b"x",
        b"a" * 100,
        b"a" * 300000,                   # RLE blocks across block splits
        bytes(rng.randint(0, 256, 200000, dtype=np.uint8)),  # raw blocks
        b"abc" * 100,
    ):
        enc = zstd_encode_store(payload)
        assert zstd_decode(enc) == payload
        assert (
            pa.decompress(
                enc, decompressed_size=len(payload), codec="zstd",
                asbytes=True,
            )
            == payload
        )


def test_zstd_huffman_direct_weights_handcrafted():
    """The direct (4-bit nibble) Huffman weight representation —
    encoders rarely emit it, so pin it with a hand-built table:
    symbols 0,1 weight 1 (2-bit codes), implied symbol 2 weight 2
    (1-bit code), stream '1 00 01' decoding to [2, 0, 1]."""
    from downloader_spark.media import _zstd_huf_stream, _zstd_huf_table

    desc = bytes([129, 0x11])  # header 127+2 weights; nibbles 1,1
    table, max_bits, pos = _zstd_huf_table(desc, 0)
    assert (max_bits, pos) == (2, 2)
    out = _zstd_huf_stream(table, max_bits, bytes([0x31]), 3)
    assert out == bytes([2, 0, 1])


def test_deflate_encoder_accepted_by_zlib_and_our_inflate():
    import zlib

    import numpy as np

    from downloader_spark.media import deflate_encode, inflate

    rng = np.random.RandomState(11)
    cases = [
        b"",
        b"a",
        b"hello hello hello world",
        b"a" * 100000,
        bytes(rng.randint(0, 256, 50000, dtype=np.uint8)),
        bytes(rng.randint(0, 7, 120000, dtype=np.uint8)),
        open("/root/testdata/sf0.001/orders.parquet", "rb").read(),
        b"x" * 70000,  # stored mode: multiple 64 KiB blocks
    ]
    for c in cases:
        for fixed in (True, False):
            enc = deflate_encode(c, fixed=fixed)
            assert zlib.decompress(enc, -15) == c
            assert inflate(enc) == c


def test_deflate_encoder_hypothesis_roundtrip():
    from hypothesis import given, settings, strategies as st

    from downloader_spark.media import deflate_encode, inflate

    @settings(max_examples=60, deadline=None)
    @given(st.binary(max_size=2048), st.booleans())
    def check(payload, fixed):
        import zlib

        enc = deflate_encode(payload, fixed=fixed)
        assert zlib.decompress(enc, -15) == payload
        assert inflate(enc) == payload

    check()


def test_delta_binary_packed_int32_overflow_values():
    """INT32 DELTA_BINARY_PACKED wraps its running sum mod 2^32
    (regression: reducing mod 2^64 turned valid int32 boundary hops —
    INT32_MIN -> INT32_MAX deltas — into out-of-type values like
    -2147483649 while pyarrow and DuckDB read the file fine)."""
    import pyarrow as pa

    from downloader_spark.media import read_parquet_column

    vals = [
        -(2**31), 2**31 - 1, -(2**31), 2**31 - 1, 0, -1,
        2**31 - 1, -(2**31), 12345, -(2**30), 2**30, 7,
    ]
    tbl = pa.table({"x": pa.array(vals, pa.int32())})
    data = _pq_write(
        tbl,
        use_dictionary=False,
        compression="none",
        column_encoding={"x": "DELTA_BINARY_PACKED"},
    )
    got = read_parquet_column(data, "x")
    assert got == vals
    assert all(-(2**31) <= v < 2**31 for v in got)


def test_zstd_decode_truncated_raises_value_error():
    """Truncating a real zstd frame at any prefix surfaces ValueError,
    never a bare IndexError (the loud-failure contract _pq_decompress
    and the pipeline stages rely on)."""
    import pyarrow as pa

    from downloader_spark.media import zstd_decode

    payload = bytes(range(256)) * 64
    comp = bytes(pa.compress(payload, codec="zstd", asbytes=True))
    for cut in range(1, 16):
        with pytest.raises(ValueError):
            zstd_decode(comp[:cut])
    for cut in (len(comp) // 3, len(comp) // 2, len(comp) - 1):
        with pytest.raises(ValueError):
            zstd_decode(comp[:cut])


def test_gif89a_extension_blocks_decode():
    """Real-world GIFs are mostly GIF89a with graphic-control /
    comment extensions before the image descriptor; the decoder skips
    0x21 extension blocks and recovers the identical index plane."""
    import numpy as np

    from downloader_spark.media import decode_gif_gray, encode_gif_gray

    rng = np.random.RandomState(3)
    gray = rng.randint(0, 256, (9, 13), dtype=np.uint8)
    g87 = encode_gif_gray(gray)
    packed = g87[10]
    tbl = 3 * (2 << (packed & 7)) if packed & 0x80 else 0
    split = 13 + tbl  # end of header + global color table
    gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    comment = bytes([0x21, 0xFE, 5]) + b"hello" + b"\x00"
    g89 = b"GIF89a" + g87[6:split] + gce + comment + g87[split:]
    assert np.array_equal(decode_gif_gray(g89), gray)
    # truncated extension chain still fails loudly
    with pytest.raises(ValueError):
        decode_gif_gray(g89[: split + 3])


def test_read_parquet_list_column_writer_matrix():
    """Single-level LIST decode (repetition + definition levels,
    Dremel reassembly) against pyarrow across codecs, data-page
    versions, dictionary/plain, delta element encodings and row-group
    splits — null list / empty list / null element / value must all
    survive every layout."""
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from downloader_spark.media import (
        read_parquet_column,
        read_parquet_list_column,
    )

    ints = [[1, 2, 3], None, [], [None, 5], [2**62, -(2**62)], [7], [0], None]
    strs = [["a", "bb"], [], None, ["ccc", None, ""], ["dd"], None, ["e"], []]
    floats = [[1.5, -2.25], [0.0], None, [], [3.75], [None], [-0.5], [9.0]]
    tbl = pa.table(
        {
            "xi": pa.array(ints, pa.list_(pa.int64())),
            "xs": pa.array(strs, pa.list_(pa.string())),
            "xf": pa.array(floats, pa.list_(pa.float32())),
            "flat": pa.array(range(8)),
        }
    )
    want_s = [
        None if r is None else [x if x is None else x.encode() for x in r]
        for r in strs
    ]
    matrix = (
        dict(),
        dict(compression="snappy"),
        dict(compression="gzip", use_dictionary=False),
        dict(compression="zstd"),
        dict(data_page_version="2.0"),
        dict(data_page_version="2.0", use_dictionary=False,
             compression="zstd"),
        dict(version="2.6", use_dictionary=False,
             column_encoding={"xi.list.element": "DELTA_BINARY_PACKED",
                              "xs.list.element": "DELTA_BYTE_ARRAY",
                              "xf.list.element": "BYTE_STREAM_SPLIT",
                              "flat": "PLAIN"}),
        dict(row_group_size=3),
        dict(row_group_size=2, data_page_version="2.0"),
    )
    for kw in matrix:
        buf = io.BytesIO()
        pq.write_table(tbl, buf, **kw)
        data = buf.getvalue()
        assert read_parquet_list_column(data, "xi") == ints, kw
        assert read_parquet_list_column(data, "xs") == want_s, kw
        got_f = read_parquet_list_column(data, "xf")
        assert got_f == floats, kw
        # full dotted leaf path also resolves
        assert read_parquet_list_column(data, "xi.list.element") == ints, kw
        # flat reader still refuses repeated columns loudly
        with pytest.raises(ValueError):
            read_parquet_column(data, "xi.list.element")
    # the fixture's own embeddings table (the VERDICT-named target)
    import pathlib

    emb = pathlib.Path("/root/testdata/sf0.001/embeddings.parquet")
    if emb.exists():
        data = emb.read_bytes()
        got = read_parquet_list_column(data, "embedding")
        want = pq.read_table(io.BytesIO(data)).column("embedding").to_pylist()
        assert got == want
    # depth-2 nesting stays out-of-profile, loudly
    deep = pa.table(
        {"z": pa.array([[[1]], [[2, 3]]], pa.list_(pa.list_(pa.int64())))}
    )
    buf = io.BytesIO()
    pq.write_table(deep, buf)
    with pytest.raises(ValueError):
        read_parquet_list_column(buf.getvalue(), "z")


def test_read_parquet_struct_and_list_of_struct_writer_matrix():
    """Struct (def-level-only group) and list<struct> reassembly
    against pyarrow across codecs, page versions, dictionary/plain
    and row-group splits: null struct vs null field vs value, nested
    struct recursion, and per-element dicts inside lists.  The
    pre-fix first-leaf shortcut silently returned ONE field's values
    for list<struct> — the exact ADVICE repro is pinned here."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from downloader_spark.media import (
        read_parquet_list_column,
        read_parquet_struct_column,
    )

    structs = [
        {"a": 1, "b": "x", "inner": {"p": 10, "q": 11}},
        None,
        {"a": None, "b": "y", "inner": None},
        {"a": 4, "b": None, "inner": {"p": None, "q": 14}},
        {"a": 5, "b": "z", "inner": {"p": 15, "q": None}},
        None,
    ]
    styp = pa.struct(
        [
            ("a", pa.int64()),
            ("b", pa.string()),
            ("inner", pa.struct([("p", pa.int64()), ("q", pa.int64())])),
        ]
    )
    lrows = [
        [{"a": 1, "b": 2}],
        [{"a": 3, "b": 4}, {"a": 5, "b": None}],
        None,
        [],
        [None, {"a": 7, "b": 8}],
        [{"a": None, "b": None}],
    ]
    ltyp = pa.list_(pa.struct([("a", pa.int64()), ("b", pa.int64())]))
    tbl = pa.table(
        {
            "s": pa.array(structs, styp),
            "ls": pa.array(lrows, ltyp),
            "flat": pa.array(range(6)),
        }
    )
    want_s = [
        None
        if r is None
        else {
            "a": r["a"],
            "b": r["b"].encode() if r["b"] is not None else None,
            "inner": r["inner"],
        }
        for r in structs
    ]
    matrix = (
        dict(),
        dict(compression="gzip", use_dictionary=False),
        dict(compression="zstd", data_page_version="2.0"),
        dict(row_group_size=2),
        dict(row_group_size=3, data_page_version="2.0",
             use_dictionary=False),
    )
    for kw in matrix:
        buf = io.BytesIO()
        pq.write_table(tbl, buf, **kw)
        data = buf.getvalue()
        assert read_parquet_struct_column(data, "s") == want_s, kw
        assert read_parquet_list_column(data, "ls") == lrows, kw
    # the ADVICE repro: single-field list<struct> returns dicts, not
    # the bare field values the first-leaf shortcut leaked
    one = pa.table(
        {
            "x": pa.array(
                [[{"a": 1}], [{"a": 3}, {"a": 5}]],
                pa.list_(pa.struct([("a", pa.int64())])),
            )
        }
    )
    buf = io.BytesIO()
    pq.write_table(one, buf)
    assert read_parquet_list_column(buf.getvalue(), "x") == [
        [{"a": 1}],
        [{"a": 3}, {"a": 5}],
    ]
    # loud descopes: struct via the flat/list readers, lists inside
    # structs, and leaf columns via the struct reader
    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    data = buf.getvalue()
    with pytest.raises(ValueError, match="repeated"):
        read_parquet_struct_column(data, "ls")
    with pytest.raises(ValueError, match="leaf"):
        read_parquet_struct_column(data, "flat")
    with pytest.raises(ValueError, match="no such column"):
        read_parquet_struct_column(data, "nope")
    wl = pa.table(
        {
            "s": pa.array(
                [{"l": [1, 2]}],
                pa.struct([("l", pa.list_(pa.int64()))]),
            )
        }
    )
    buf = io.BytesIO()
    pq.write_table(wl, buf)
    with pytest.raises(ValueError, match="unsupported"):
        read_parquet_struct_column(buf.getvalue(), "s")


def test_parquet_statistics_and_rowgroup_pruning():
    """Writer statistics (min_value/max_value/null_count +
    TypeDefinedOrder column_orders) and the pruned read path: pruned
    row groups' page bytes are physically never touched — corrupting
    every byte of them leaves the pruned read exact while a full read
    explodes — and external readers (pyarrow) trust the stats."""
    import io

    import pyarrow.parquet as pq

    from downloader_spark.media import (
        decode_parquet_stat,
        encode_parquet,
        parse_parquet_metadata,
        read_parquet_column,
        read_parquet_column_pruned,
        read_parquet_rowgroups_pruned,
    )

    cols = {
        "k": list(range(100)),
        "v": [(i * 13) % 71 for i in range(100)],
        "s": [f"x{i:03d}" if i % 9 else None for i in range(100)],
    }
    for kw in (
        dict(),
        dict(compression="gzip", use_dictionary=True),
        dict(compression="none"),
    ):
        data = encode_parquet(cols, row_group_size=10, **kw)
        meta = parse_parquet_metadata(data)
        st = meta["row_groups"][4]["chunks"]["k"]["stats"]
        assert decode_parquet_stat(st["min"], 2) == 40
        assert decode_parquet_stat(st["max"], 2) == 49
        sts = meta["row_groups"][0]["chunks"]["s"]["stats"]
        assert sts["null_count"] == 2 and sts["min"] == b"x001"
        # pyarrow trusts them (column_orders present)
        pf = pq.ParquetFile(io.BytesIO(data))
        pst = pf.metadata.row_group(4).column(0).statistics
        assert pst.has_min_max and (pst.min, pst.max) == (40, 49)
        # pruned single-column read
        res = read_parquet_column_pruned(data, "k", 42, 77)
        assert (res["rg_total"], res["rg_scanned"]) == (10, 4)
        assert res["values"] == list(range(40, 80))
        # multi-column group-granular read keeps rows aligned
        res2 = read_parquet_rowgroups_pruned(data, "k", 42, 77, ["k", "v"])
        assert res2["columns"]["k"] == list(range(40, 80))
        assert res2["columns"]["v"] == [(i * 13) % 71 for i in range(40, 80)]
        # corrupt every pruned group's bytes: pruned read unchanged,
        # full read dies
        buf = bytearray(data)
        for gi, rg in enumerate(meta["row_groups"]):
            if 4 <= gi <= 7:
                continue
            for ck in rg["chunks"].values():
                start = min(
                    o
                    for o in (
                        ck["dictionary_page_offset"],
                        ck["data_page_offset"],
                    )
                    if o is not None
                )
                for x in range(start, start + ck["total_compressed_size"]):
                    buf[x] ^= 0xFF
        res3 = read_parquet_rowgroups_pruned(
            bytes(buf), "k", 42, 77, ["k", "v"]
        )
        assert res3["columns"] == res2["columns"]
        with pytest.raises(Exception):
            read_parquet_column(bytes(buf), "k")
    # groups without stats are always scanned (prune never changes
    # results)
    nostats = encode_parquet(cols, row_group_size=10, write_statistics=False)
    resn = read_parquet_column_pruned(nostats, "k", 42, 77)
    assert resn["rg_scanned"] == 10
    assert resn["values"] == cols["k"]


def test_parquet_writer_v2_dictionary_gzip_multi_row_group():
    """Writer v2 features — dictionary pages (PLAIN_DICTIONARY v1
    profile with bit-packed index pages), gzip page bodies through the
    from-scratch DEFLATE encoder, and multi-row-group layout — must be
    read back exactly by pyarrow, DuckDB AND this module's own page
    reader (encoder/decoder twins both ways)."""
    import io
    import itertools
    import os
    import tempfile

    import duckdb
    import pyarrow.parquet as pq

    from downloader_spark.media import encode_parquet, read_parquet_column

    n = 500
    cols = {
        "k": [None if i % 7 == 0 else i * 3 - 500 for i in range(n)],
        "name": [
            None if i % 5 == 0 else f"cat-{i % 17}" for i in range(n)
        ],
        "score": [None if i % 9 == 0 else (i % 23) / 4.0 for i in range(n)],
        "flag": [None if i % 13 == 0 else bool(i % 2) for i in range(n)],
        "allnull": [None] * n,
    }
    for comp, rg, dic in itertools.product(
        ("snappy", "gzip", "none"), (None, 64, 33), (False, True)
    ):
        data = encode_parquet(
            cols, compression=comp, row_group_size=rg, use_dictionary=dic
        )
        # our own reader
        assert read_parquet_column(data, "k") == cols["k"], (comp, rg, dic)
        assert [
            v if v is None else v.decode()
            for v in read_parquet_column(data, "name")
        ] == cols["name"], (comp, rg, dic)
        assert read_parquet_column(data, "flag") == cols["flag"]
        assert read_parquet_column(data, "allnull") == cols["allnull"]
        # pyarrow
        t = pq.read_table(io.BytesIO(data))
        assert t.num_rows == n
        want_rgs = 1 if rg is None else -(-n // rg)
        assert pq.ParquetFile(io.BytesIO(data)).num_row_groups == want_rgs
        for c in cols:
            assert t.column(c).to_pylist() == cols[c], (c, comp, rg, dic)
        # duckdb
        f = tempfile.NamedTemporaryFile(suffix=".parquet", delete=False)
        f.write(data)
        f.close()
        try:
            got = duckdb.sql(
                "SELECT count(*), count(k), sum(k), count(DISTINCT name)"
                f" FROM read_parquet('{f.name}')"
            ).fetchone()
            want_k = [v for v in cols["k"] if v is not None]
            want_names = {v for v in cols["name"] if v is not None}
            assert got == (n, len(want_k), sum(want_k), len(want_names))
        finally:
            os.unlink(f.name)
    # dictionary files are materially smaller on repetitive data
    rep = {"s": [f"val-{i % 4}" for i in range(4000)]}
    plain = encode_parquet(rep, compression="none")
    dicted = encode_parquet(rep, compression="none", use_dictionary=True)
    assert len(dicted) < len(plain) / 4


def test_parquet_writer_list_columns_three_readers():
    """LIST columns in the from-scratch WRITER (3-level layout,
    repetition + definition levels per slot) — pyarrow, DuckDB AND
    our own list reader must recover null list / empty list / null
    element / value exactly across codecs and row-group splits;
    encoder/decoder twins both ways."""
    import io
    import itertools
    import os
    import tempfile

    import duckdb
    import pyarrow.parquet as pq

    from downloader_spark.media import (
        encode_parquet,
        read_parquet_column,
        read_parquet_list_column,
    )

    ints = [[1, 2, 3], None, [], [None, 5], [2**62, -(2**62)], [7], None, []]
    strs = [["a", "bb"], [], None, ["ccc", None, ""], ["dd"], None, ["é"], ["x"]]
    flts = [[1.5], None, [], [0.25, -3.5], [None], [9.0], [], [2.0]]
    cols = {"xi": ints, "xs": strs, "xf": flts, "flat": list(range(8))}
    want_sb = [
        None if r is None else [x if x is None else x.encode() for x in r]
        for r in strs
    ]
    for comp, rg in itertools.product(("snappy", "gzip", "none"), (None, 3)):
        data = encode_parquet(cols, compression=comp, row_group_size=rg)
        t = pq.read_table(io.BytesIO(data))
        assert t.column("xi").to_pylist() == ints, (comp, rg)
        assert t.column("xs").to_pylist() == strs, (comp, rg)
        assert t.column("xf").to_pylist() == flts, (comp, rg)
        f = tempfile.NamedTemporaryFile(suffix=".parquet", delete=False)
        f.write(data)
        f.close()
        try:
            rows = duckdb.sql(
                f"SELECT xi, xs FROM read_parquet('{f.name}')"
            ).fetchall()
            assert [
                None if r[0] is None else list(r[0]) for r in rows
            ] == ints, (comp, rg)
            assert [
                None if r[1] is None else list(r[1]) for r in rows
            ] == strs, (comp, rg)
        finally:
            os.unlink(f.name)
        assert read_parquet_list_column(data, "xi") == ints, (comp, rg)
        assert read_parquet_list_column(data, "xs") == want_sb, (comp, rg)
        assert read_parquet_list_column(data, "xf") == flts, (comp, rg)
        assert read_parquet_column(data, "flat") == list(range(8))
    # all-null and all-empty list columns survive
    edge = encode_parquet(
        {"a": [None, None], "b": [[], []], "c": [[1], [2]]},
        compression="gzip",
    )
    t = pq.read_table(io.BytesIO(edge))
    assert t.column("a").to_pylist() == [None, None]
    assert t.column("b").to_pylist() == [[], []]
    assert read_parquet_list_column(edge, "b") == [[], []]
    assert read_parquet_list_column(edge, "c") == [[1], [2]]
    # mixing scalars and lists in one column is refused loudly
    with pytest.raises(ValueError):
        encode_parquet({"m": [1, [2]]})
