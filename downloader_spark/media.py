"""Real (if minimal) media decode for the multimodal pipeline:
pure-Python codecs for two genuinely-standard uncompressed container
formats — 24-bit BI_RGB BMP (struct-parsed) and PCM16 WAV (stdlib
``wave``) — plus the Arrow-batched Spark stages built on them.

This replaces the manifest-only posture of ``multimodal.py``'s
stubbed stages for these two formats: here the decode path REALLY
decodes payload bytes into pixel / sample arrays inside
``mapInPandas``, resizes real images, and re-encodes real bytes — so
the schema contract, the Arrow batch shape, and the numeric plumbing
are exercised end-to-end with no media library in the container.
Production swaps ``decode_bmp``/``decode_wav`` for PIL / ffmpeg
bindings; the Spark stages do not change.

Scale notes: every stage is map-only (decode pipelines with the
binaryFile scan, no shuffle); peak executor memory is
``arrow.maxRecordsPerBatch`` × payload size, same bound as the
stubbed stages.  (Reference analog: payloads are opaque byte streams,
/root/reference/download/common.go:106 — decode is strictly
downstream of ingest, which is exactly where these stages sit.)
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- BMP: 24-bit uncompressed (BI_RGB), bottom-up rows -----------------

_BMP_PIXEL_OFFSET = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit BI_RGB BMP
    (bottom-up rows, BGR byte order, rows padded to 4 bytes)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {px.shape}")
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    img_size = (row_bytes + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", _BMP_PIXEL_OFFSET + img_size, 0, 0, _BMP_PIXEL_OFFSET
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    bgr = px[::-1, :, ::-1]  # bottom-up rows, RGB -> BGR
    if pad:
        rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
        rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    return header + body


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode a 24-bit BI_RGB BMP into an (h, w, 3) uint8 RGB array.
    Supports the format ``encode_bmp`` writes (positive height =
    bottom-up) plus top-down (negative height) files."""
    if len(data) < _BMP_PIXEL_OFFSET or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP (header={hdr_size}, bpp={bpp}, "
            f"compression={compression}); fixture codec reads BI_RGB 24-bit"
        )
    bottom_up = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    body = np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=offset)
    rows = body.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]  # BGR -> RGB
    return rgb[::-1] if bottom_up else rgb.copy()


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample to (height, width, 3) —
    the pure-numpy reference resizer (floor sampling: source index =
    target index * src_extent // dst_extent)."""
    h, w, _ = pixels.shape
    yy = (np.arange(height) * h) // height
    xx = (np.arange(width) * w) // width
    return pixels[yy][:, xx]


# --- WAV: PCM16 via the stdlib wave module -----------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode a 1-D int16 array as a mono PCM16 RIFF/WAVE payload."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(sample_rate)
        wv.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a mono PCM16 WAV payload into (sample_rate, int16 array).
    Corrupt/unsupported RIFF payloads raise ValueError (the stdlib
    module's wave.Error / EOFError are translated so every media
    decoder shares one loud-failure contract)."""
    try:
        return _decode_wav_inner(data)
    except (wave.Error, EOFError, struct.error, RuntimeError) as e:
        # wave raises bare RuntimeError for unseekable truncated chunks
        raise ValueError(f"bad WAV payload: {e}") from None


def _decode_wav_inner(data: bytes) -> tuple[int, np.ndarray]:
    with wave.open(io.BytesIO(data), "rb") as wv:
        if wv.getsampwidth() != 2 or wv.getnchannels() != 1:
            raise ValueError(
                "fixture codec reads mono PCM16 WAV; got "
                f"width={wv.getsampwidth()} channels={wv.getnchannels()}"
            )
        rate = wv.getframerate()
        frames = wv.readframes(wv.getnframes())
    return rate, np.frombuffer(frames, dtype="<i2")


# --- PNG: 8-bit truecolor RGB via stdlib zlib ---------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_BPP = 3  # bytes per pixel (8-bit RGB); filters reference byte-bpp


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4): pick whichever of left /
    up / up-left is closest to a + b - c, ties broken left, up,
    up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a REAL 8-bit truecolor
    PNG (zlib-deflated IDAT, per-row filter bytes, CRC-checked
    chunks).  The row filter deliberately CYCLES through all five
    standard types (y mod 5: None/Sub/Up/Average/Paeth) so any decoder
    of these bytes must implement every unfilter path — the
    round-trip tests therefore cover the full filter suite, not just
    the trivial one."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {px.shape}")
    h, w, _ = px.shape
    raw = px.astype(np.int32)
    zero = np.zeros((1, 3), dtype=np.int32)
    lines = bytearray()
    prev = np.zeros((w, 3), dtype=np.int32)
    for y in range(h):
        row = raw[y]
        left = np.vstack([zero, row[:-1]])
        f = y % 5
        if f == 0:
            filt = row
        elif f == 1:  # Sub: minus the byte bpp positions left
            filt = row - left
        elif f == 2:  # Up: minus the byte directly above
            filt = row - prev
        elif f == 3:  # Average
            filt = row - (left + prev) // 2
        else:  # Paeth
            upleft = np.vstack([zero, prev[:-1]])
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, upleft),
            )
            filt = row - pred
        lines.append(f)
        lines.extend((filt % 256).astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit truecolor (color type 2, non-interlaced) PNG
    into an (h, w, 3) uint8 RGB array: chunk walk with CRC
    verification, zlib inflate, then per-row unfiltering of all five
    standard filter types."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = 8
    idat = bytearray()
    w = h = None
    while pos + 12 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + chunk) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8 or color != 2 or comp or filt or inter:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color}, "
                    f"interlace={inter}); fixture codec reads 8-bit RGB"
                )
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = w * _PNG_BPP
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload has the wrong length")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    bpp = _PNG_BPP
    for y in range(h):
        f = raw[pos]
        pos += 1
        cur = np.frombuffer(raw, np.uint8, stride, pos).astype(np.int32)
        pos += stride
        if f == 0:
            rec = cur
        elif f == 1:  # Sub — rec[x] = sum of filt bytes up to x, per
            # channel: mod distributes over the left-recurrence, so the
            # whole row is one vectorized cumulative sum mod 256
            rec = (
                cur.reshape(-1, bpp)
                .cumsum(axis=0, dtype=np.int64)
                .reshape(stride)
                % 256
            ).astype(np.int32)
        elif f == 2:  # Up
            rec = (cur + prev) % 256
        elif f == 3:  # Average — sequential left dependency; channels
            # are independent, so run one plain-int recurrence per
            # channel (numpy scalar indexing is ~10x slower per step)
            c_l = cur.tolist()
            p_l = prev.tolist()
            rec_l = [0] * stride
            for ch in range(bpp):
                left = 0
                for i in range(ch, stride, bpp):
                    left = (c_l[i] + ((left + p_l[i]) >> 1)) & 255
                    rec_l[i] = left
            rec = np.asarray(rec_l, dtype=np.int32)
        elif f == 4:  # Paeth — same per-channel recurrence; carry the
            # up-left byte forward instead of re-indexing prev
            c_l = cur.tolist()
            p_l = prev.tolist()
            rec_l = [0] * stride
            for ch in range(bpp):
                a = 0  # left (reconstructed)
                ul = 0  # up-left (previous row, one pixel back)
                for i in range(ch, stride, bpp):
                    b = p_l[i]
                    p = a + b - ul
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - ul if p >= ul else ul - p
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = ul
                    a = (c_l[i] + pred) & 255
                    rec_l[i] = a
                    ul = b
            rec = np.asarray(rec_l, dtype=np.int32)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, 3)


# --- Y4M: uncompressed YUV4MPEG2 video via plain header parsing --------

_Y4M_MAGIC = b"YUV4MPEG2"


def encode_y4m(frames: np.ndarray, fps: int = 25) -> bytes:
    """Encode an (n, h, w, 3) uint8 Y'UV (C444) frame stack as a REAL
    YUV4MPEG2 stream — the standard uncompressed video interchange
    container (mjpegtools/ffmpeg-compatible): one ASCII stream header,
    then per frame a FRAME marker + raw planar Y, U, V bytes.  C444
    (no chroma subsampling) keeps the payload lossless, so round-trips
    are bit-exact and oracle-checkable."""
    fr = np.asarray(frames, dtype=np.uint8)
    if fr.ndim != 4 or fr.shape[3] != 3:
        raise ValueError(f"expected (n, h, w, 3) YUV frames, got {fr.shape}")
    n, h, w, _ = fr.shape
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C444\n".encode())
    for i in range(n):
        out.extend(b"FRAME\n")
        # planar: all Y, then all U, then all V
        for c in range(3):
            out.extend(fr[i, :, :, c].tobytes())
    return bytes(out)


def decode_y4m(data: bytes) -> tuple[int, np.ndarray]:
    """Decode a C444 YUV4MPEG2 stream into (fps, (n, h, w, 3) uint8
    planar-Y'UV frame stack)."""
    if not data.startswith(_Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = data.index(b"\n")
    header = data[:nl].decode("ascii", "replace").split(" ")
    w = h = fps = None
    colorspace = "C420jpeg"  # the spec default when absent
    for tok in header[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("F"):
            fps = int(tok[1:].split(":")[0])
        elif tok.startswith("C"):
            colorspace = tok
    if colorspace != "C444":
        raise ValueError(
            f"unsupported Y4M colorspace {colorspace}; fixture codec reads C444"
        )
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if fps is None:
        raise ValueError("Y4M header missing F (frame-rate) token")
    plane = w * h
    pos = nl + 1
    frames = []
    while pos < len(data):
        fnl = data.index(b"\n", pos)
        if not data[pos:fnl].startswith(b"FRAME"):
            raise ValueError("Y4M frame marker missing")
        pos = fnl + 1
        if pos + 3 * plane > len(data):
            raise ValueError("Y4M truncated frame payload")
        planes = [
            np.frombuffer(data, np.uint8, plane, pos + c * plane).reshape(h, w)
            for c in range(3)
        ]
        frames.append(np.stack(planes, axis=-1))
        pos += 3 * plane
    return fps, np.stack(frames) if frames else np.zeros((0, h, w, 3), np.uint8)


# --- JPEG: baseline sequential DCT, grayscale, pure stdlib -------------
#
# A REAL (if single-component) ITU-T T.81 baseline JPEG codec: forward
# /inverse 8x8 DCT, Annex-K quantization tables with libjpeg-style
# quality scaling, Annex-K Huffman tables, DC differential + AC
# run-length entropy coding with 0xFF byte stuffing, JFIF markers.
# The decoder parses DQT/DHT/SOF0/DRI/SOS from the stream, tolerates
# 0xFF fill bytes before markers, and decodes restart-interval scans
# (it decodes any conforming 8-bit gray/4:4:4 baseline JPEG, not just
# our own bytes).  Hot paths are vectorized: matmul DCT/IDCT across
# all blocks, a 16-bit-peek Huffman LUT over a pre-unstuffed scan
# buffer for decode, and a numpy ragged bit-packer for encode.
# Retires the JPEG stub in multimodal.py for grayscale and 4:4:4
# color; chroma-subsampled scans stay a documented stub.

_JPEG_QTBL_LUMA = np.array(
    [  # ITU-T T.81 Annex K.1, raster order
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)

_JPEG_ZZ = np.array(
    [  # raster index of each zigzag position
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.3: standard luminance Huffman tables (BITS counts per code
# length 1..16, then the symbol values in canonical order)
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
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
)


_JPEG_QTBL_CHROMA = np.array(
    [  # ITU-T T.81 Annex K.2, raster order
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


def jpeg_qtable(quality: int, chroma: bool = False) -> np.ndarray:
    """Annex-K luminance (K.1) or chrominance (K.2) table under the
    libjpeg quality scaling (integer arithmetic end-to-end, so the
    scaled entries — which the multimodal oracles inline as literals
    — are deterministic)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    base = _JPEG_QTBL_CHROMA if chroma else _JPEG_QTBL_LUMA
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix M: forward S = M s Mᵀ,
    inverse s = Mᵀ S M (T.81 A.3.3 with C(0)=1/√2 folded in)."""
    x = np.arange(8, dtype=np.float64)
    m = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16.0)
    m[0, :] *= 1.0 / math.sqrt(2.0)
    return m


_JPEG_DCT_M = _dct_matrix()


def _quantize(coefs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Round-half-away-from-zero quantization (libjpeg convention;
    the multimodal oracles replicate it as an integer formula).

    Coefficients within float-DCT error of an integer are snapped
    first: an exactly-integer coefficient (every coefficient of a
    constant block) must quantize by the INTEGER tie rule — the raw
    DCT float can land a hair below the true half-integer quotient
    (measured: S(0,0) = -55.99999999999999 for a constant c = -7
    block at q = 16) and silently round toward zero instead."""
    r = np.rint(coefs)
    snapped = np.where(np.abs(coefs - r) < 1e-9, r, coefs)
    return (
        np.sign(snapped) * np.floor(np.abs(snapped) / q + 0.5)
    ).astype(np.int64)


def _canonical_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits) per T.81 C.2 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for nbits, count in enumerate(bits, start=1):
        for _ in range(count):
            out[vals[k]] = (code, nbits)
            code += 1
            k += 1
        code <<= 1
    return out


def _pack_bits(codes: list[int], nbits: list[int]) -> bytes:
    """Vectorized variable-length bit packer: concatenate the
    ``nbits[i]``-wide ``codes[i]`` MSB-first, 1-pad to a byte boundary
    (T.81 F.1.2.3), then 0x00-stuff every 0xFF — all as numpy array
    passes (ragged expansion via repeat/cumsum), no per-bit Python."""
    if not codes:
        return b""
    cd = np.asarray(codes, np.int64)
    nb = np.asarray(nbits, np.int64)
    pad = int(-nb.sum() % 8)
    if pad:
        cd = np.append(cd, (1 << pad) - 1)
        nb = np.append(nb, pad)
    ends = np.cumsum(nb)
    sym = np.repeat(np.arange(len(nb)), nb)
    intra = np.arange(ends[-1]) - np.repeat(ends - nb, nb)
    bits = (cd[sym] >> (nb[sym] - 1 - intra)) & 1
    raw = np.packbits(bits.astype(np.uint8))
    ff = np.flatnonzero(raw == 0xFF)
    if len(ff):  # byte stuffing (stuffed 0x00s can't create new 0xFF)
        raw = np.insert(raw, ff + 1, 0)
    return raw.tobytes()


class _JpegBitWriter:
    """Entropy-stream writer: ``put`` only queues (code, nbits) pairs;
    ``flush`` bit-packs, pads, and stuffs in one vectorized pass."""

    def __init__(self) -> None:
        self.codes: list[int] = []
        self.nbits: list[int] = []

    def put(self, code: int, nbits: int) -> None:
        self.codes.append(code & ((1 << nbits) - 1))
        self.nbits.append(nbits)

    def flush(self) -> bytes:
        return _pack_bits(self.codes, self.nbits)


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, size-bit code) for a DC diff / AC level."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    code = v if v > 0 else v + (1 << size) - 1
    return size, code


def _blockify(px: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad to 8x8 MCU multiples by edge replication, return
    (n_blocks, 8, 8) float blocks in raster MCU order + mcu dims."""
    h, w = px.shape
    ph, pw = -h % 8, -w % 8
    padded = np.pad(px.astype(np.float64), ((0, ph), (0, pw)), mode="edge")
    hh, ww = padded.shape
    blocks = (
        padded.reshape(hh // 8, 8, ww // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    return blocks, hh // 8, ww // 8


def _encode_block(bw, blk, prev_dc, dc_codes, ac_codes) -> int:
    """Entropy-encode one zigzag block (DC diff + AC run-length);
    returns the block's DC for the component's predictor chain."""
    size, code = _magnitude(int(blk[0]) - prev_dc)
    c, n = dc_codes[size]
    bw.put(c, n)
    if size:
        bw.put(code, size)
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(blk[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, n = ac_codes[0xF0]  # ZRL: 16 zeros
            bw.put(c, n)
            run -= 16
        size, code = _magnitude(v)
        c, n = ac_codes[(run << 4) | size]
        bw.put(c, n)
        bw.put(code, size)
        run = 0
    if last < 63:
        c, n = ac_codes[0x00]  # EOB
        bw.put(c, n)
    return int(blk[0])


def _plane_zz_blocks(plane: np.ndarray, q_raster: np.ndarray) -> np.ndarray:
    """DCT + quantize one component plane into (n, 64) zigzag blocks."""
    blocks, _, _ = _blockify(plane)
    coefs = _JPEG_DCT_M @ (blocks - 128.0) @ _JPEG_DCT_M.T
    quant = _quantize(coefs, q_raster.reshape(8, 8))
    return quant.reshape(-1, 64)[:, _JPEG_ZZ]


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _jpeg_headers(h: int, w: int, qtables: list[np.ndarray], comps) -> bytes:
    """SOI + JFIF APP0 + DQTs + SOF0 + the two Annex-K luma DHTs.
    ``comps`` is [(component id, qtable index), ...] for 1x1-sampled
    components, or [(component id, sampling byte, qtable index), ...]
    with an explicit H<<4|V sampling byte (e.g. 0x22 for 4:2:0 luma)."""
    out = bytearray(b"\xff\xd8")
    out += _jpeg_seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q_raster in enumerate(qtables):
        out += _jpeg_seg(
            0xDB, bytes([tq]) + bytes(int(v) for v in q_raster[_JPEG_ZZ])
        )
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for spec in comps:
        cid, samp, tq = spec if len(spec) == 3 else (spec[0], 0x11, spec[1])
        sof += bytes([cid, samp, tq])
    out += _jpeg_seg(0xC0, sof)
    out += _jpeg_seg(
        0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    )
    out += _jpeg_seg(
        0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    return bytes(out)


def encode_jpeg_gray(
    pixels: np.ndarray, quality: int = 50, restart_interval: int = 0
) -> bytes:
    """Encode an (h, w) uint8 grayscale array as a REAL baseline JFIF
    JPEG (SOF0, one component, Annex-K quant + Huffman tables).

    ``restart_interval=N`` emits a DRI segment and splits the scan
    into byte-aligned restart intervals of N MCUs separated by
    modulo-8 RSTn markers with per-interval DC predictor resets
    (T.81 E.1.4) — the stream-resynchronization form a parallel or
    error-tolerant decoder consumes."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError(f"expected (h, w) grayscale array, got {px.shape}")
    h, w = px.shape
    q_raster = jpeg_qtable(quality)
    zz = _plane_zz_blocks(px, q_raster)
    dc_codes = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    out = bytearray(_jpeg_headers(h, w, [q_raster], [(1, 0)]))
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    out += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS
    step = restart_interval or len(zz)
    for s, start in enumerate(range(0, len(zz), step)):
        if s:  # byte-aligned RSTn between intervals
            out += bytes([0xFF, 0xD0 + (s - 1) % 8])
        bw = _JpegBitWriter()
        prev_dc = 0  # DC predictor resets at each restart
        for blk in zz[start : start + step]:
            prev_dc = _encode_block(bw, blk, prev_dc, dc_codes, ac_codes)
        out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# Fixed-point JFIF color transforms: 1e3/1e4/1e6-scaled integer
# arithmetic with floor(x + 0.5) rounding and a final clamp — chosen
# so BOTH engines' truncating integer division reproduces the codec
# exactly (any negative quotient is clamped to 0, where floor-vs-
# trunc differences cannot matter).  Coefficients are the JFIF 1.02
# YCbCr definitions at 4 decimal places.


def _rgb_to_ycbcr_int(px: np.ndarray) -> np.ndarray:
    r = px[..., 0].astype(np.int64)
    g = px[..., 1].astype(np.int64)
    b = px[..., 2].astype(np.int64)
    y = (2990 * r + 5870 * g + 1140 * b + 5000) // 10000
    cb = (-1687 * r - 3313 * g + 5000 * b + 1285000) // 10000
    cr = (5000 * r - 4187 * g - 813 * b + 1285000) // 10000
    out = np.stack([y, cb, cr], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)


def _ycbcr_to_rgb_int(planes: np.ndarray) -> np.ndarray:
    y = planes[..., 0].astype(np.int64)
    cb = planes[..., 1].astype(np.int64) - 128
    cr = planes[..., 2].astype(np.int64) - 128
    r = (1000000 * y + 1402000 * cr + 500000) // 1000000
    g = (1000000 * y - 344136 * cb - 714136 * cr + 500000) // 1000000
    b = (1000000 * y + 1772000 * cb + 500000) // 1000000
    out = np.stack([r, g, b], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)


def encode_jpeg_color(pixels: np.ndarray, quality: int = 50) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a REAL 3-component
    baseline JFIF JPEG: fixed-point YCbCr transform, 4:4:4 (no
    subsampling), Annex-K luminance + chrominance quant tables,
    interleaved Y/Cb/Cr MCUs with per-component DC predictors.  All
    components share the Annex-K luminance Huffman tables (declared
    in the stream — a conforming, decoder-agnostic choice)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {px.shape}")
    h, w, _ = px.shape
    ycc = _rgb_to_ycbcr_int(px)
    q_luma = jpeg_qtable(quality)
    q_chroma = jpeg_qtable(quality, chroma=True)
    zz = [
        _plane_zz_blocks(ycc[..., c], q_luma if c == 0 else q_chroma)
        for c in range(3)
    ]
    dc_codes = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    prev = [0, 0, 0]
    for m in range(zz[0].shape[0]):  # interleaved MCUs (4:4:4)
        for c in range(3):
            prev[c] = _encode_block(bw, zz[c][m], prev[c], dc_codes, ac_codes)
    out = bytearray(
        _jpeg_headers(h, w, [q_luma, q_chroma], [(1, 0), (2, 1), (3, 1)])
    )
    out += _jpeg_seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    )  # SOS: all components on the declared (luma) DC0/AC0 tables
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_420(pixels: np.ndarray, quality: int = 50) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a REAL chroma-subsampled
    4:2:0 baseline JFIF JPEG — the remaining piece of the JPEG family
    beyond the 4:4:4 color path: Cb/Cr are 2x2-averaged (integer
    half-up) to quarter resolution, the luma component is declared
    2x2-sampled (SOF byte 0x22), and each 16x16 MCU interleaves FOUR
    Y blocks (raster order within the macroblock) + one Cb + one Cr
    with per-component DC predictor chains (T.81 A.2.3)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {px.shape}")
    h, w, _ = px.shape
    ycc = _rgb_to_ycbcr_int(px)
    # pad to whole 16x16 macroblocks by edge replication, once, so the
    # luma blocks and the subsampled chroma grid stay aligned
    ycc = np.pad(ycc, ((0, -h % 16), (0, -w % 16), (0, 0)), mode="edge")
    y_plane = ycc[..., 0]
    # 2x2 mean with half-up integer rounding (the oracle-replicable
    # choice; exact regardless of rounding when the 4 samples agree)
    c64 = ycc.astype(np.int64)
    sub = [
        (
            c64[0::2, 0::2, c]
            + c64[0::2, 1::2, c]
            + c64[1::2, 0::2, c]
            + c64[1::2, 1::2, c]
            + 2
        )
        // 4
        for c in (1, 2)
    ]
    q_luma = jpeg_qtable(quality)
    q_chroma = jpeg_qtable(quality, chroma=True)
    zz_y = _plane_zz_blocks(y_plane, q_luma)
    zz_c = [_plane_zz_blocks(p.astype(np.uint8), q_chroma) for p in sub]
    dc_codes = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    prev = [0, 0, 0]
    mcy, mcx = ycc.shape[0] // 16, ycc.shape[1] // 16
    bw_y = 2 * mcx  # luma blocks per row
    for my in range(mcy):
        for mx in range(mcx):
            for r, cc in ((0, 0), (0, 1), (1, 0), (1, 1)):
                blk = zz_y[(2 * my + r) * bw_y + 2 * mx + cc]
                prev[0] = _encode_block(bw, blk, prev[0], dc_codes, ac_codes)
            for c in (0, 1):
                blk = zz_c[c][my * mcx + mx]
                prev[c + 1] = _encode_block(
                    bw, blk, prev[c + 1], dc_codes, ac_codes
                )
    out = bytearray(
        _jpeg_headers(
            h, w, [q_luma, q_chroma],
            [(1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)],
        )
    )
    out += _jpeg_seg(
        0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    )  # SOS: all components on the declared (luma) DC0/AC0 tables
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    """Entropy-scan reader built for table-driven decode: the stuffed
    scan is UNSTUFFED once up front (0xFF 0x00 -> 0xFF, restart
    markers recorded as segment boundaries, 0xFF fill bytes skipped),
    then a precomputed 32-bit sliding-window table serves any
    16-bit-or-narrower read as two shifts and a list index — no
    per-bit Python, no per-read stuffing checks."""

    def __init__(self, data: bytes, pos: int) -> None:
        clean = bytearray()
        self.seg_starts = [0]  # byte offsets of restart segments
        self.rst_seq: list[int] = []  # RSTn indices between segments
        i = pos
        while True:
            j = data.find(0xFF, i)
            if j < 0:
                clean += data[i:]
                self.end_pos = len(data)
                break
            clean += data[i:j]
            nxt = data[j + 1] if j + 1 < len(data) else 0xD9
            if nxt == 0x00:
                clean.append(0xFF)
                i = j + 2
            elif 0xD0 <= nxt <= 0xD7:  # restart marker
                self.seg_starts.append(len(clean))
                self.rst_seq.append(nxt - 0xD0)
                i = j + 2
            elif nxt == 0xFF:  # fill byte before a marker (B.1.1.2)
                i = j + 1
            else:  # a real marker (EOI / next header) ends the scan
                self.end_pos = j
                break
        # 4 bytes of 1-padding so a peek near the end never overruns
        # (reads past the stream see pad bits, as a conforming decoder
        # expects)
        b = np.frombuffer(bytes(clean) + b"\xff\xff\xff\xff", np.uint8).astype(
            np.uint32
        )
        self.w32 = (
            (b[:-3] << 24) | (b[1:-2] << 16) | (b[2:-1] << 8) | b[3:]
        ).tolist()
        self.p = 0  # bit position into the clean stream

    def peek16(self) -> int:
        p = self.p
        return (self.w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF

    def bits(self, k: int) -> int:
        """Read k <= 16 bits MSB-first."""
        p = self.p
        self.p = p + k
        return ((self.w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF) >> (16 - k)

    def next_restart_segment(self, seg: int) -> None:
        """Byte-align onto restart segment ``seg``, verifying the
        modulo-8 RSTn sequence (T.81 E.1.4)."""
        if seg > len(self.seg_starts) - 1:
            raise ValueError("JPEG scan ended before expected RST marker")
        if self.rst_seq[seg - 1] != (seg - 1) % 8:
            raise ValueError(
                f"restart marker out of sequence: RST{self.rst_seq[seg - 1]}"
                f" where RST{(seg - 1) % 8} was expected"
            )
        self.p = self.seg_starts[seg] * 8


_HUFF_LUT_CACHE: dict[tuple, list[int]] = {}


def _huff_lut(bits, vals) -> list[int]:
    """16-bit-peek Huffman lookup table: entry = (code length << 8) |
    symbol for every 16-bit window starting with that code, 0 for
    invalid prefixes.  One list index decodes a whole symbol (codes
    are <= 16 bits), replacing the bit-serial tree walk."""
    key = (tuple(bits), tuple(vals))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is None:
        arr = np.zeros(1 << 16, np.int32)
        for sym, (code, nbits) in _canonical_codes(bits, vals).items():
            start = code << (16 - nbits)
            arr[start : start + (1 << (16 - nbits))] = (nbits << 8) | sym
        lut = arr.tolist()
        _HUFF_LUT_CACHE[key] = lut
    return lut


def _huff_decoder(bits, vals):
    """symbol decoder over a ``_JpegBitReader`` (LUT-backed)."""
    lut = _huff_lut(bits, vals)

    def decode(br: _JpegBitReader) -> int:
        e = lut[br.peek16()]
        if e == 0:
            raise ValueError("invalid Huffman code in JPEG scan")
        br.p += e >> 8
        return e & 0xFF

    return decode


def _decode_jpeg_planes(data: bytes) -> tuple[list[np.ndarray], int, int]:
    """Decode an 8-bit baseline JPEG into per-component (h, w) uint8
    planes, every plane UPSAMPLED (sample replication, the JFIF
    default) to full image resolution.  Parses DQT / SOF0 / DHT / DRI
    / SOS from the stream — table-agnostic, sampling-factor-general
    (4:4:4, 4:2:0, 4:2:2 MCU interleave per A.2.3), tolerant of 0xFF
    fill bytes before markers (T.81 B.1.1.2), with restart-interval
    scans (DRI + RSTn) decoded per segment — so it reads any
    conforming 8-bit baseline file, not just this encoder's output."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple] = {}
    h = w = None
    restart_interval = 0
    comp_q: list[int] = []  # per-component quant table id (SOF order)
    comp_samp: list[tuple[int, int]] = []  # per-component (H, V) factors
    comp_hufs: list[tuple[int, int]] = []  # per-component (dc, ac) ids
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # 0xFF fill bytes (B.1.1.2)
        if pos + 1 >= len(data):
            raise ValueError("truncated JPEG (stream ends mid-marker)")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG (no segment length)")
        (length,) = struct.unpack_from(">H", data, pos + 2)
        payload = data[pos + 4 : pos + 2 + length]
        if length < 2 or len(payload) != length - 2:
            raise ValueError("truncated JPEG (short segment payload)")
        pos += 2 + length
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(payload, np.uint8, 64, p + 1).astype(np.int64)
                raster = np.empty(64, np.int64)
                raster[_JPEG_ZZ] = zz
                qtables[tq] = raster
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
            if prec != 8 or ncomp not in (1, 3):
                raise ValueError(
                    f"unsupported JPEG (precision={prec}, components="
                    f"{ncomp}); codec reads 8-bit baseline gray/color"
                )
            for c in range(ncomp):
                samp = payload[7 + 3 * c]
                comp_samp.append((samp >> 4, samp & 0x0F))
                comp_q.append(payload[8 + 3 * c])
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = tuple(payload[p + 1 : p + 17])
                nv = sum(bits)
                vals = tuple(payload[p + 17 : p + 17 + nv])
                huff[(tc, th)] = _huff_lut(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI — restart interval in MCUs
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = payload[0]
            for c in range(ns):
                sel = payload[2 + 2 * c]
                comp_hufs.append((sel >> 4, sel & 0x0F))
            break
    if h is None or not qtables:
        raise ValueError("JPEG missing SOF0/DQT")
    ncomp = len(comp_q)
    if len(comp_hufs) != ncomp:
        raise ValueError("SOS component count disagrees with SOF0")
    dc_lut = [huff[(0, comp_hufs[c][0])] for c in range(ncomp)]
    ac_lut = [huff[(1, comp_hufs[c][1])] for c in range(ncomp)]
    hmax = max(hi for hi, vi in comp_samp)
    vmax = max(vi for hi, vi in comp_samp)
    for hi, vi in comp_samp:
        if hi not in (1, 2, 4) or vi not in (1, 2, 4):
            raise ValueError(f"sampling factor {hi}x{vi} out of range")
    mcy, mcx = -(-h // (8 * vmax)), -(-w // (8 * hmax))
    n_mcu = mcy * mcx
    # per-component block grid (rows, cols) across the whole image,
    # and the per-MCU block schedule (component, row-in-MCU, col-in-
    # MCU) in the A.2.3 interleave order
    grid = [(vi * mcy, hi * mcx) for hi, vi in comp_samp]
    sched = [
        (c, r, cc)
        for c, (hi, vi) in enumerate(comp_samp)
        for r in range(vi)
        for cc in range(hi)
    ]
    br = _JpegBitReader(data, pos)
    w32 = br.w32  # locals: the whole entropy decode runs on ints
    p = 0
    seg = 0
    zz_flat = [[0] * (gr * gc * 64) for gr, gc in grid]
    prev_dc = [0] * ncomp
    my = mx = 0
    for m in range(n_mcu):  # interleaved per the schedule
        if restart_interval and m and m % restart_interval == 0:
            seg += 1
            br.next_restart_segment(seg)  # verifies RSTn sequence
            p = br.p
            prev_dc = [0] * ncomp
        for c, r, cc in sched:
            blk = zz_flat[c]
            hi, vi = comp_samp[c]
            base = ((my * vi + r) * grid[c][1] + mx * hi + cc) * 64
            e = dc_lut[c][(w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF]
            if e == 0:
                raise ValueError("invalid Huffman code in JPEG scan")
            p += e >> 8
            size = e & 0xFF
            if size:
                v = ((w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF) >> (16 - size)
                p += size
                prev_dc[c] += v - (1 << size) + 1 if v < 1 << (size - 1) else v
            blk[base] = prev_dc[c]
            k = 1
            lut = ac_lut[c]
            while k < 64:
                e = lut[(w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF]
                if e == 0:
                    raise ValueError("invalid Huffman code in JPEG scan")
                p += e >> 8
                rs = e & 0xFF
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                size = rs & 0x0F
                if k > 63:
                    raise ValueError("AC coefficient index overran the block")
                v = ((w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF) >> (16 - size)
                p += size
                blk[base + k] = v - (1 << size) + 1 if v < 1 << (size - 1) else v
                k += 1
        mx += 1
        if mx == mcx:  # advance the MCU raster position
            mx = 0
            my += 1
    mt = _JPEG_DCT_M.T
    planes = []
    for c in range(ncomp):
        gr, gc = grid[c]
        zz = np.array(zz_flat[c], np.int64).reshape(gr * gc, 64)
        raster = np.zeros((gr * gc, 64), np.int64)
        raster[:, _JPEG_ZZ] = zz
        deq = (raster * qtables[comp_q[c]]).reshape(-1, 8, 8).astype(np.float64)
        spatial = mt @ deq @ _JPEG_DCT_M
        # floor(x + 0.5) — deterministic half-up rounding the closed-
        # form oracles replicate exactly (np.round's banker's ties
        # would not be SQL-expressible).  Sums within float-IDCT error
        # of an integer snap to it first so an exact boundary can't
        # flip on a 1-ulp wobble (mirror of the _quantize snap).
        s = spatial + 128.5
        r = np.rint(s)
        s = np.where(np.abs(s - r) < 1e-9, r, s)
        out = np.clip(np.floor(s), 0, 255).astype(np.uint8)
        plane = (
            out.reshape(gr, gc, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(gr * 8, gc * 8)
        )
        hi, vi = comp_samp[c]
        if hi != hmax or vi != vmax:
            # crop to the component's native sampled size, then
            # replicate up to full resolution (JFIF sample expansion)
            ch, cw = -(-h * vi // vmax), -(-w * hi // hmax)
            plane = (
                plane[:ch, :cw]
                .repeat(vmax // vi, axis=0)
                .repeat(hmax // hi, axis=1)
            )
        planes.append(plane[:h, :w])
    return planes, h, w


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Decode an 8-bit single-component baseline JPEG into an (h, w)
    uint8 array (see ``_decode_jpeg_planes``)."""
    planes, _, _ = _decode_jpeg_planes(data)
    if len(planes) != 1:
        raise ValueError(
            f"expected a grayscale JPEG, found {len(planes)} components"
        )
    return planes[0]


def decode_jpeg_rgb(data: bytes) -> np.ndarray:
    """Decode an 8-bit 3-component baseline JPEG (4:4:4 or chroma-
    subsampled — planes arrive replication-upsampled to full
    resolution) into an (h, w, 3) uint8 RGB array: per-plane baseline
    decode, then the fixed-point YCbCr -> RGB transform (exactly
    inverse-symmetric to ``encode_jpeg_color``'s forward
    transform)."""
    planes, _, _ = _decode_jpeg_planes(data)
    if len(planes) != 3:
        raise ValueError(
            f"expected a 3-component JPEG, found {len(planes)}"
        )
    return _ycbcr_to_rgb_int(np.stack(planes, axis=-1))


# --- Spark stages: real decode through the Arrow path ------------------

_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        # per-channel mean in exact integer milli-units:
        # sum(channel) * 1000 // n_pixels — reproducible everywhere
        T.StructField("mean_rgb_milli", T.ArrayType(T.LongType())),
        # digest of the CANONICAL pixel buffer (row-major top-down
        # RGB), independent of container padding / row order
        T.StructField("pixel_md5", T.StringType()),
    ]
)


def decode_image_pixels(binary_df: DataFrame) -> DataFrame:
    """REAL image decode over a binary corpus: parse each BMP payload
    into its pixel array inside Arrow-batched ``mapInPandas`` and emit
    geometry + exact integer channel means + a canonical pixel digest.
    Map-only; pipelines with the binaryFile scan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in _IMAGE_SCHEMA}
            for path, content in zip(pdf["path"], pdf["content"]):
                px = decode_bmp(bytes(content))
                h, w, _ = px.shape
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["file"].append(path.rsplit("/", 1)[-1])
                out["width"].append(w)
                out["height"].append(h)
                out["mean_rgb_milli"].append(
                    [int(s) * 1000 // (h * w) for s in sums]
                )
                out["pixel_md5"].append(hashlib.md5(px.tobytes()).hexdigest())
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(run, schema=_IMAGE_SCHEMA)


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_bmp(binary_df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize: decode each BMP, nearest-neighbor resample,
    re-encode — the output column carries genuine BMP bytes a
    downstream decode stage can read back (round-trip asserted in
    tests).  Same schema contract as the stubbed ``resize_images``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "file": [p.rsplit("/", 1)[-1] for p in pdf["path"]],
                    "width": width,
                    "height": height,
                    "resized": [
                        encode_bmp(
                            resize_nearest(decode_bmp(bytes(c)), width, height)
                        )
                        for c in pdf["content"]
                    ],
                }
            )

    return binary_df.mapInPandas(run, schema=_RESIZE_SCHEMA)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        # rms in exact integer micro-units of full scale:
        # isqrt(mean(x^2) scaled) keeps it reproducible everywhere
        T.StructField("rms_micro", T.LongType()),
    ]
)


def audio_stats(binary_df: DataFrame) -> DataFrame:
    """REAL audio decode over a binary corpus: parse each PCM16 WAV
    payload into its sample array and emit rate / duration / peak /
    integer-exact RMS.  rms_micro = isqrt(mean(x²) · 10¹²) // 32768 —
    all-integer, so the value is bit-stable across platforms."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in _AUDIO_SCHEMA}
            for path, content in zip(pdf["path"], pdf["content"]):
                rate, samples = decode_wav(bytes(content))
                n = len(samples)
                sq = int(np.square(samples, dtype=np.int64).sum())
                out["file"].append(path.rsplit("/", 1)[-1])
                out["sample_rate"].append(int(rate))
                out["n_samples"].append(n)
                out["duration_ms"].append(n * 1000 // rate if rate else 0)
                out["peak"].append(
                    int(np.abs(samples.astype(np.int32)).max()) if n else 0
                )
                out["rms_micro"].append(
                    math.isqrt(sq * 10**12 // n) // 32768 if n else 0
                )
            yield pd.DataFrame(out)

    return binary_df.mapInPandas(run, schema=_AUDIO_SCHEMA)


# --- IMA ADPCM: 4-bit adaptive differential PCM, pure integer ----------
#
# The IMA/DVI ADPCM algorithm (public specification: IMA Digital Audio
# Focus and Technical Working Groups, 1992; the scheme WAV format tag
# 0x0011 and many game/telephony containers use).  Every operation is
# integer arithmetic on a tiny (predictor, step-index) state, which
# makes the WHOLE lossy codec replicable by an oracle engine as a
# recursive integer fold — no float anywhere.  The decoder reconstructs
# exactly the encoder's predictor sequence, so decoded[i] == the
# encoder's post-update predictor at step i.

_ADPCM_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_ADPCM_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _adpcm_step(sample: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One IMA encode step: returns (nibble, new predictor, new step
    index).  The new predictor IS the decoded value for this step."""
    step = _ADPCM_STEPS[idx]
    diff = sample - pred
    sign = 8 if diff < 0 else 0
    if sign:
        diff = -diff
    delta = 0
    if diff >= step:
        delta |= 4
        diff -= step
    if diff >= step >> 1:
        delta |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        delta |= 1
    # reconstruct exactly as the decoder will
    vpdiff = step >> 3
    if delta & 4:
        vpdiff += step
    if delta & 2:
        vpdiff += step >> 1
    if delta & 1:
        vpdiff += step >> 2
    pred = pred - vpdiff if sign else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _ADPCM_INDEX[delta]))
    return sign | delta, pred, idx


def encode_adpcm(samples) -> bytes:
    """Encode int16 samples as IMA ADPCM nibbles packed two per byte
    (low nibble first, the IMA/WAV convention; odd counts pad the
    final high nibble with 0).  Initial state: predictor 0, index 0."""
    pred, idx = 0, 0
    nibbles = []
    for s in samples:
        n, pred, idx = _adpcm_step(int(s), pred, idx)
        nibbles.append(n)
    if len(nibbles) % 2:
        nibbles.append(0)
    return bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )


def decode_adpcm(data: bytes, n_samples: int) -> np.ndarray:
    """Decode IMA ADPCM bytes back to int16 samples (initial state
    predictor 0, index 0, matching ``encode_adpcm``)."""
    pred, idx = 0, 0
    out = np.empty(n_samples, np.int16)
    k = 0
    for b in data:
        for nib in (b & 0x0F, b >> 4):
            if k >= n_samples:
                break
            step = _ADPCM_STEPS[idx]
            vpdiff = step >> 3
            if nib & 4:
                vpdiff += step
            if nib & 2:
                vpdiff += step >> 1
            if nib & 1:
                vpdiff += step >> 2
            pred = pred - vpdiff if nib & 8 else pred + vpdiff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _ADPCM_INDEX[nib & 7]))
            out[k] = pred
            k += 1
    if k != n_samples:
        raise ValueError(f"ADPCM payload ended after {k}/{n_samples} samples")
    return out


# --- G.711 mu-law companding, pure integer, fully vectorized -----------
#
# ITU-T G.711 mu-law (the public telephony companding standard; the
# integer form below follows the widely-published public-domain Sun
# g711.c reference).  Unlike ADPCM there is no cross-sample state —
# encode/decode are closed-form per sample, so both directions
# vectorize completely in numpy AND replicate as plain per-sample SQL.

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def encode_mulaw(samples) -> bytes:
    """Encode int16 samples as 8-bit G.711 mu-law bytes."""
    s = np.asarray(samples, np.int64)
    sign = np.where(s < 0, 0x80, 0)
    m = np.minimum(np.abs(s), _ULAW_CLIP) + _ULAW_BIAS
    seg = np.frexp(m)[1].astype(np.int64) - 8  # bit_length(m) - 8, in 0..7
    mant = (m >> (seg + 3)) & 0x0F
    return ((~(sign | (seg << 4) | mant)) & 0xFF).astype(np.uint8).tobytes()


def decode_mulaw(data: bytes) -> np.ndarray:
    """Decode G.711 mu-law bytes to int16 samples (the standard
    midpoint reconstruction)."""
    u = (~np.frombuffer(data, np.uint8).astype(np.int64)) & 0xFF
    seg = (u >> 4) & 7
    t = (((u & 0x0F) << 3) + _ULAW_BIAS) << seg
    return np.where(u & 0x80, _ULAW_BIAS - t, t - _ULAW_BIAS).astype(np.int16)


# --- G.711 A-law companding, pure integer, fully vectorized ------------


def encode_alaw(samples) -> bytes:
    """Encode int16 samples as 8-bit G.711 A-law bytes (the
    even-bit-inverted 0x55 convention; integer form per the
    public-domain Sun g711.c reference)."""
    v = np.asarray(samples, np.int64)
    m13 = v >> 3  # arithmetic shift == floor, the 13-bit domain
    mask = np.where(m13 >= 0, 0xD5, 0x55)
    mag = np.where(m13 >= 0, m13, -m13 - 1)  # ones-complement negatives
    seg = np.maximum(np.frexp(mag)[1].astype(np.int64) - 5, 0)
    mant = (mag >> np.maximum(seg, 1)) & 0x0F
    return (((seg << 4) | mant) ^ mask).astype(np.uint8).tobytes()


def decode_alaw(data: bytes) -> np.ndarray:
    """Decode G.711 A-law bytes to int16 samples (midpoint
    reconstruction)."""
    a = np.frombuffer(data, np.uint8).astype(np.int64) ^ 0x55
    seg = (a >> 4) & 7
    t0 = (a & 0x0F) << 4
    t = np.where(
        seg == 0,
        t0 + 8,
        np.where(
            seg == 1, t0 + 0x108, (t0 + 0x108) << np.maximum(seg - 1, 0)
        ),
    )
    return np.where(a & 0x80, t, -t).astype(np.int16)


# --- PFV: from-scratch inter-frame (P-frame) delta video codec ---------
#
# The one video shape Y4M doesn't exercise: INTER-FRAME PREDICTION —
# frame N stored against reconstructed frame N-1 as per-block deltas,
# with skip flags for unchanged blocks and run-length coding for the
# residual.  This is the structural core of every real video codec
# (H.26x P-frames / macroblock skip) rebuilt from scratch over numpy,
# byte-exact and lossless, so the oracle can replay it closed-form.
#
# Container format (little-endian):
#   b"PFV1" | u16 w | u16 h | u16 nf | u8 block
#   frame 0: raw h*w luma bytes (the I-frame)
#   frames 1..nf-1, blocks in raster order (by, bx):
#     u8 0              -> SKIP (block identical to previous frame)
#     u8 1 | u16 npairs | npairs * (u8 run, u8 value)
#                       -> mod-256 delta vs previous frame, RLE over
#                          the block's row-major bytes

_PFV_MAGIC = b"PFV1"


def encode_pframe(frames: np.ndarray, block: int = 4) -> bytes:
    """Encode a (nf, h, w) uint8 luma clip: I-frame + P-frames of
    skip/RLE-delta blocks.  h and w must be multiples of ``block``."""
    nf, h, w = frames.shape
    if h % block or w % block:
        raise ValueError("frame dims must be multiples of block size")
    out = [_PFV_MAGIC, struct.pack("<HHHB", w, h, nf, block)]
    out.append(frames[0].tobytes())
    bsq = block * block
    for f in range(1, nf):
        delta = (
            frames[f].astype(np.int16) - frames[f - 1].astype(np.int16)
        ) % 256
        # one (nblocks, block*block) view per frame: the zero test and
        # the constant test are vectorized across ALL blocks, so the
        # Python loop body is a dict-style dispatch, not numpy setup
        blks = (
            delta.reshape(h // block, block, w // block, block)
            .transpose(0, 2, 1, 3)
            .reshape(-1, bsq)
            .astype(np.uint8)
        )
        nonzero = blks.any(axis=1)
        constant = (blks == blks[:, :1]).all(axis=1)
        for i in range(blks.shape[0]):
            if not nonzero[i]:
                out.append(b"\x00")
            elif constant[i]:
                # constant-delta block (the common case in P-frames):
                # one RLE run, split only by the 255 cap
                val = int(blks[i, 0])
                full, rem = divmod(bsq, 255)
                pairs = bytes((255, val)) * full + (
                    bytes((rem, val)) if rem else b""
                )
                out.append(
                    b"\x01"
                    + struct.pack("<H", full + (1 if rem else 0))
                    + pairs
                )
            else:
                # general RLE: (run, value) pairs, runs capped at 255
                b = blks[i]
                edges = np.flatnonzero(np.diff(b)) + 1
                starts = np.concatenate(([0], edges))
                ends = np.concatenate((edges, [len(b)]))
                pairs = bytearray()
                npairs = 0
                for s, e in zip(starts, ends):
                    run, val = int(e - s), int(b[s])
                    while run > 255:
                        pairs += bytes((255, val))
                        npairs += 1
                        run -= 255
                    pairs += bytes((run, val))
                    npairs += 1
                out.append(b"\x01" + struct.pack("<H", npairs) + bytes(pairs))
    return b"".join(out)


def decode_pframe(data: bytes) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """Decode PFV bytes back to the (nf, h, w) uint8 clip, plus the
    per-frame (n_skip, n_coded) block counts read from the BITSTREAM
    (frame 0, the I-frame, reports (0, 0) — it carries no flags)."""
    if not data.startswith(_PFV_MAGIC):
        raise ValueError("not a PFV stream")
    if len(data) < 11:
        raise ValueError("truncated PFV header")
    w, h, nf, block = struct.unpack_from("<HHHB", data, 4)
    pos = 11
    if len(data) < pos + h * w:
        raise ValueError("truncated PFV I-frame")
    frames = np.empty((nf, h, w), np.uint8)
    frames[0] = np.frombuffer(data, np.uint8, h * w, pos).reshape(h, w)
    pos += h * w
    stats = [(0, 0)]
    for f in range(1, nf):
        cur = frames[f - 1].astype(np.int16)
        frames[f] = frames[f - 1]
        n_skip = n_coded = 0
        for by in range(0, h, block):
            for bx in range(0, w, block):
                if pos >= len(data):
                    raise ValueError("truncated PFV block flag")
                flag = data[pos]
                pos += 1
                if flag == 0:
                    n_skip += 1
                    continue
                if flag != 1:
                    raise ValueError(f"bad PFV block flag {flag}")
                if pos + 2 > len(data):
                    raise ValueError("truncated PFV pair count")
                (npairs,) = struct.unpack_from("<H", data, pos)
                pos += 2
                if pos + 2 * npairs > len(data):
                    raise ValueError("truncated PFV RLE payload")
                rle = np.frombuffer(data, np.uint8, 2 * npairs, pos)
                pos += 2 * npairs
                delta = np.repeat(rle[1::2], rle[0::2])
                if delta.size != block * block:
                    raise ValueError("PFV RLE run mismatch vs block size")
                blk = delta.reshape(block, block).astype(np.int16)
                frames[f, by : by + block, bx : bx + block] = (
                    (cur[by : by + block, bx : bx + block] + blk) % 256
                ).astype(np.uint8)
                n_coded += 1
        stats.append((n_skip, n_coded))
    if pos != len(data):
        raise ValueError("trailing PFV bytes")
    return frames, stats


# --- GIF87a / LZW: variable-width dictionary codec ---------------------
#
# A real GIF87a writer/reader with the actual variable-width LZW the
# format specifies (9..12-bit codes, clear/EOI, width growth as the
# dictionary fills, 255-byte sub-block framing) — from scratch over
# stdlib bytes, no imaging library.  Scope: single image, 2^n-entry
# global color table, no interlace, no extensions (GIF89a blocks are
# rejected loudly).  When the dictionary reaches 4096 entries both
# sides stop adding and keep coding against the full table ("deferred
# clear" — legal per the spec and bit-exact to mirror).

_GIF_MAGIC = b"GIF87a"
_LZW_MAX_CODE = 4096  # 12-bit ceiling: stop growing the table here


def _lzw_encode_gif(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW over one byte per pixel index: emits CLEAR,
    then variable-width codes (LSB-first bit packing), then EOI."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        if next_code < _LZW_MAX_CODE:
            table[cand] = next_code
            next_code += 1
            # the NEXT emit may reference the entry just defined, so
            # the width must fit it now (decoder bumps one code later
            # because its dictionary trails by exactly one entry)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """Inverse of :func:`_lzw_encode_gif`; ``n_expected`` bounds the
    output so a corrupt stream fails loudly instead of ballooning."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0  # bit cursor
    nbits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos
        if pos + width > nbits:
            raise ValueError("truncated LZW stream")
        byte0, bit0 = divmod(pos, 8)
        val = int.from_bytes(data[byte0 : byte0 + 3], "little") >> bit0
        pos += width
        return val & ((1 << width) - 1)

    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == eoi:
            break
        if code == clear:
            table = table[: eoi + 1]
            width = min_code_size + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW stream starts with undefined code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table) and len(table) < _LZW_MAX_CODE:
            entry = prev + prev[:1]  # the KwKwK self-reference case
        else:
            raise ValueError(f"undefined LZW code {code}")
        out += entry
        if len(out) > n_expected:
            raise ValueError("LZW output exceeds declared image size")
        if prev is not None and len(table) < _LZW_MAX_CODE:
            table.append(prev + entry[:1])
            # before the NEXT read, the largest referencable code is
            # len(table) (KwKwK), so grow the width as soon as that
            # stops fitting
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def encode_gif_gray(pixels: np.ndarray) -> bytes:
    """Encode an (h, w) uint8 index plane as a GIF87a with a 256-entry
    gray-identity global color table and a real LZW image stream."""
    if pixels.ndim != 2 or pixels.dtype != np.uint8:
        raise ValueError("expected (h, w) uint8 index plane")
    h, w = pixels.shape
    out = bytearray(_GIF_MAGIC)
    # logical screen descriptor: global table, 8 bits/channel, 256 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    ramp = np.arange(256, dtype=np.uint8)
    out += np.repeat(ramp, 3).tobytes()  # gray identity palette
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)  # image descriptor
    out.append(8)  # LZW minimum code size
    lzw = _lzw_encode_gif(pixels.tobytes(), 8)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif_gray(data: bytes) -> np.ndarray:
    """Decode a single-image GIF87a/GIF89a to an (h, w) uint8 gray
    plane: global OR local color tables (local wins, per spec), the
    4-pass interlace row order, and 89a extension blocks (graphic
    control / comment / application) are all handled — the round-15
    floor where sniff_format advertised 89a but only identity-palette
    non-interlaced streams decoded.  Pixel values map each index
    through the active palette's integer luma
    ((299 r + 587 g + 114 b) // 1000), which is the identity on
    :func:`encode_gif_gray`'s gray ramp; an index beyond the palette
    raises instead of wrapping."""
    if not (data.startswith(_GIF_MAGIC) or data.startswith(b"GIF89a")):
        raise ValueError("not a GIF87a/GIF89a stream")
    if len(data) < 13:
        raise ValueError("truncated GIF screen descriptor")
    _, _, packed, _, _ = struct.unpack_from("<HHBBB", data, 6)
    pos = 13

    def read_table(p: int, pk: int) -> tuple[np.ndarray, int]:
        n_colors = 2 << (pk & 0x07)
        if len(data) < p + 3 * n_colors:
            raise ValueError("truncated GIF color table")
        tbl = np.frombuffer(data, np.uint8, 3 * n_colors, p).reshape(
            n_colors, 3
        )
        return tbl, p + 3 * n_colors

    table = None
    if packed & 0x80:
        table, pos = read_table(pos, packed)
    while True:
        if pos >= len(data):
            raise ValueError("GIF stream ended before an image block")
        intro = data[pos]
        if intro == 0x2C:
            break
        if intro == 0x21:  # 89a extension: label byte + sub-block chain
            pos += 2
            while True:
                if pos >= len(data):
                    raise ValueError("truncated GIF extension block")
                n = data[pos]
                pos += 1
                if n == 0:
                    break
                pos += n
            continue
        raise ValueError(f"unsupported GIF block 0x{intro:02x}")
    if len(data) < pos + 10:
        raise ValueError("truncated GIF image descriptor")
    _, _, _, w, h, ipacked = struct.unpack_from("<BHHHHB", data, pos)
    pos += 10
    interlaced = bool(ipacked & 0x40)
    if ipacked & 0x80:  # local color table overrides the global one
        table, pos = read_table(pos, ipacked)
    if table is None:
        raise ValueError("GIF image has neither global nor local table")
    if pos >= len(data):
        raise ValueError("truncated GIF before LZW code size")
    min_code_size = data[pos]
    pos += 1
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    lzw = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(data):
            raise ValueError("truncated GIF sub-block payload")
        lzw += data[pos : pos + n]
        pos += n
    indices = _lzw_decode_gif(bytes(lzw), min_code_size, h * w)
    if len(indices) != h * w:
        raise ValueError("LZW output does not fill the image")
    idx = np.frombuffer(indices, np.uint8).reshape(h, w)
    if interlaced:
        # spec appendix E: rows arrive pass-ordered 0/8.., 4/8..,
        # 2/4.., 1/2.. — scatter them back to display order
        order = np.concatenate(
            [
                np.arange(start, h, step)
                for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            ]
        )
        out = np.empty_like(idx)
        out[order] = idx
        idx = out
    if int(idx.max(initial=0)) >= len(table):
        raise ValueError("GIF index beyond the active color table")
    t64 = table.astype(np.int64)
    luma = (299 * t64[:, 0] + 587 * t64[:, 1] + 114 * t64[:, 2]) // 1000
    return luma.astype(np.uint8)[idx]


# --- DEFLATE (RFC 1951) / zlib (RFC 1950): from-scratch INFLATE --------
#
# The decompressor half of the most widespread byte codec in any data
# lake (gzip members, zlib streams inside PNG/parquet pages) written
# from scratch: stored blocks, fixed-Huffman blocks, dynamic-Huffman
# blocks with the RFC 1951 code-length meta-alphabet (16/17/18
# repeats), LZ77 length/distance back-references, and the RFC 1950
# zlib wrapper with a from-scratch Adler-32 check.  The COMPRESSOR is
# stdlib ``zlib`` (producing real-world streams the decoder must
# accept); only decode is reimplemented, mirroring the repo's codec
# posture (decode proves the format, the encoder supplies real bytes).

_INF_LEN_BASE = (
    3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
    51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258,
)
_INF_LEN_EXTRA = (
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
    4, 4, 4, 4, 5, 5, 5, 5, 0,
)
_INF_DIST_BASE = (
    1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257,
    385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289,
    16385, 24577,
)
_INF_DIST_EXTRA = (
    0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13,
)
_INF_CLEN_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)


def _huffman_table(lengths) -> dict[tuple[int, int], int]:
    """Canonical Huffman decode table per RFC 1951 §3.2.2:
    (code length, code value) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    for bits in range(1, max(lengths, default=0) + 1):
        for sym, ln in enumerate(lengths):
            if ln == bits:
                table[(bits, code)] = sym
                code += 1
        code <<= 1
    return table


class _InflateBitReader:
    """LSB-first bit reader over a bytes buffer (DEFLATE bit order)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def bits(self, n: int) -> int:
        val = 0
        got = 0
        while got < n:
            if self.byte >= len(self.data):
                raise ValueError("truncated DEFLATE stream")
            take = min(8 - self.bit, n - got)
            val |= ((self.data[self.byte] >> self.bit) & ((1 << take) - 1)) << got
            got += take
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return val

    def symbol(self, table: dict[tuple[int, int], int]) -> int:
        # Huffman codes are MSB-first within the code while the byte
        # stream is LSB-first — accumulate bit-by-bit
        code = 0
        for length in range(1, 16):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def align_byte(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


_INF_FIXED_LIT = _huffman_table(
    [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
)
_INF_FIXED_DIST = _huffman_table([5] * 30)


def _inflate_dynamic_tables(br: _InflateBitReader):
    hlit = br.bits(5) + 257
    hdist = br.bits(5) + 1
    hclen = br.bits(4) + 4
    clen_lengths = [0] * 19
    for i in range(hclen):
        clen_lengths[_INF_CLEN_ORDER[i]] = br.bits(3)
    clen_table = _huffman_table(clen_lengths)
    lengths: list[int] = []
    while len(lengths) < hlit + hdist:
        sym = br.symbol(clen_table)
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            if not lengths:
                raise ValueError("repeat with no previous length")
            lengths += [lengths[-1]] * (3 + br.bits(2))
        elif sym == 17:
            lengths += [0] * (3 + br.bits(3))
        else:
            lengths += [0] * (11 + br.bits(7))
    if len(lengths) != hlit + hdist:
        raise ValueError("code-length run overflows the table")
    return (
        _huffman_table(lengths[:hlit]),
        _huffman_table(lengths[hlit:]),
    )


def inflate(data: bytes, pos: int = 0) -> bytes:
    """Decompress a raw DEFLATE stream (RFC 1951) starting at byte
    ``pos``.  Handles stored, fixed-Huffman and dynamic-Huffman
    blocks; raises ValueError on any malformed construct."""
    return inflate_at(data, pos)[0]


def inflate_at(data: bytes, pos: int = 0) -> tuple[bytes, int]:
    """Like :func:`inflate` but also returns the byte offset just
    past the stream (byte-aligned), so container formats that follow
    a DEFLATE stream with a trailer — gzip members, zip entries —
    can keep parsing."""
    br = _InflateBitReader(data, pos)
    out = bytearray()
    while True:
        bfinal = br.bits(1)
        btype = br.bits(2)
        if btype == 0:  # stored
            br.align_byte()
            if br.byte + 4 > len(data):
                raise ValueError("truncated stored-block header")
            ln, nln = struct.unpack_from("<HH", data, br.byte)
            if ln ^ nln != 0xFFFF:
                raise ValueError("stored-block LEN/NLEN mismatch")
            br.byte += 4
            if br.byte + ln > len(data):
                raise ValueError("truncated stored block")
            out += data[br.byte : br.byte + ln]
            br.byte += ln
        elif btype in (1, 2):
            if btype == 1:
                lit_table, dist_table = _INF_FIXED_LIT, _INF_FIXED_DIST
            else:
                lit_table, dist_table = _inflate_dynamic_tables(br)
            while True:
                sym = br.symbol(lit_table)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym > 285:
                        raise ValueError(f"bad length symbol {sym}")
                    length = _INF_LEN_BASE[sym - 257] + br.bits(
                        _INF_LEN_EXTRA[sym - 257]
                    )
                    dsym = br.symbol(dist_table)
                    if dsym > 29:
                        raise ValueError(f"bad distance symbol {dsym}")
                    dist = _INF_DIST_BASE[dsym] + br.bits(_INF_DIST_EXTRA[dsym])
                    if dist > len(out):
                        raise ValueError("back-reference before stream start")
                    # overlapping copies are the LZ77 norm: byte at a time
                    start = len(out) - dist
                    for i in range(length):
                        out.append(out[start + i])
        else:
            raise ValueError("reserved DEFLATE block type 3")
        if bfinal:
            br.align_byte()
            return bytes(out), br.byte


def _adler32(data: bytes) -> int:
    """RFC 1950 Adler-32, from scratch (mod 65521 over running sums)."""
    a, b = 1, 0
    # b is the sum of every prefix value of a, so over a chunk with
    # cumulative sums c: a' = a + c[-1], b' = b + n*a + sum(c) — all
    # exact in uint64 for chunks of <= 5552 bytes (zlib's own bound)
    for i in range(0, len(data), 5552):
        chunk = np.frombuffer(data[i : i + 5552], np.uint8)
        c = np.cumsum(chunk, dtype=np.uint64)
        b = (b + len(chunk) * a + int(c.sum())) % 65521
        a = (a + int(c[-1])) % 65521
    return (b << 16) | a


def zlib_decode(data: bytes) -> bytes:
    """Decode an RFC 1950 zlib stream with the from-scratch inflater
    and verify its Adler-32 trailer (also from scratch)."""
    if len(data) < 6:
        raise ValueError("truncated zlib stream")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise ValueError("zlib CM is not deflate")
    if (cmf * 256 + flg) % 31:
        raise ValueError("zlib header check failed")
    if flg & 0x20:
        raise ValueError("preset dictionary not supported")
    out = inflate(data, 2)
    want = struct.unpack(">I", data[-4:])[0]
    got = _adler32(out)
    if want != got:
        raise ValueError(f"Adler-32 mismatch: {got:#x} != {want:#x}")
    return out


# --- gzip (RFC 1952): multi-member parse with from-scratch CRC-32 ------
#
# The container the crawl world actually ships: WARC files are
# CONCATENATED gzip members (one per record), and reading them means
# walking member headers (FLG bit fields: FEXTRA/FNAME/FCOMMENT/
# FHCRC), inflating each member, and checking the CRC-32 + ISIZE
# trailer.  CRC-32 here is from scratch (reflected 0xEDB88320 table),
# the inflater is the from-scratch one above; stdlib gzip/zlib only
# PRODUCE the streams.

_CRC32_TABLE: np.ndarray | None = None


def _crc32_table() -> np.ndarray:
    global _CRC32_TABLE
    if _CRC32_TABLE is None:
        t = np.arange(256, dtype=np.uint32)
        for _ in range(8):
            t = np.where(t & 1, 0xEDB88320 ^ (t >> 1), t >> 1).astype(
                np.uint32
            )
        _CRC32_TABLE = t
    return _CRC32_TABLE


def crc32(data: bytes, crc: int = 0) -> int:
    """Reflected CRC-32 (gzip/zip polynomial), table-driven, from
    scratch — byte-serial by nature, table lookup per byte."""
    table = _crc32_table()
    c = crc ^ 0xFFFFFFFF
    for b in data:
        c = int(table[(c ^ b) & 0xFF]) ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def gzip_members_decode(data: bytes) -> list[bytes]:
    """Parse a concatenation of RFC 1952 gzip members (the WARC
    layout) into their decompressed payloads, verifying each member's
    CRC-32 and ISIZE trailer with the from-scratch implementations."""
    members: list[bytes] = []
    pos = 0
    while pos < len(data):
        start = pos
        if pos + 10 > len(data):
            raise ValueError("truncated gzip member header")
        if data[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError("bad gzip magic")
        if data[pos + 2] != 8:
            raise ValueError("gzip CM is not deflate")
        flg = data[pos + 3]
        if flg & 0xE0:
            raise ValueError("reserved gzip FLG bits set")
        pos += 10  # magic, CM, FLG, MTIME(4), XFL, OS
        if flg & 0x04:  # FEXTRA
            if pos + 2 > len(data):
                raise ValueError("truncated FEXTRA length")
            (xlen,) = struct.unpack_from("<H", data, pos)
            pos += 2 + xlen
        for bit in (0x08, 0x10):  # FNAME, FCOMMENT: NUL-terminated
            if flg & bit:
                end = data.find(b"\x00", pos)
                if end < 0:
                    raise ValueError("unterminated gzip header string")
                pos = end + 1
        if flg & 0x02:  # FHCRC: CRC-16 of the header bytes so far
            if pos + 2 > len(data):
                raise ValueError("truncated FHCRC")
            (want16,) = struct.unpack_from("<H", data, pos)
            if crc32(data[start:pos]) & 0xFFFF != want16:
                raise ValueError("gzip header CRC-16 mismatch")
            pos += 2
        if pos > len(data):
            raise ValueError("truncated gzip header fields")
        payload, pos = inflate_at(data, pos)
        if pos + 8 > len(data):
            raise ValueError("truncated gzip trailer")
        want_crc, want_isize = struct.unpack_from("<II", data, pos)
        pos += 8
        if crc32(payload) != want_crc:
            raise ValueError("gzip CRC-32 mismatch")
        if len(payload) % (1 << 32) != want_isize:
            raise ValueError("gzip ISIZE mismatch")
        members.append(payload)
    if not members:
        raise ValueError("empty gzip stream")
    return members


def encode_gzip_member(
    payload: bytes, level: int = 6, name: bytes | None = None
) -> bytes:
    """Build one RFC 1952 member by hand (header incl. optional FNAME,
    raw-deflate body from stdlib zlib, CRC-32/ISIZE trailer) — used to
    exercise header-flag parsing that gzip.compress never emits."""
    flg = 0x08 if name is not None else 0
    head = b"\x1f\x8b\x08" + bytes([flg]) + b"\x00\x00\x00\x00\x00\xff"
    if name is not None:
        head += name + b"\x00"
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    body = co.compress(payload) + co.flush()
    trailer = struct.pack("<II", crc32(payload), len(payload) % (1 << 32))
    return head + body + trailer


# --- ZIP (APPNOTE.TXT): central-directory container walk ---------------
#
# The other container datasets actually ship in.  Reading a zip
# correctly means trusting the CENTRAL DIRECTORY (found via the EOCD
# record at the tail), not streaming local headers — self-extracting
# archives and appended data make local-header walks wrong.  Entries
# are stored (method 0) or DEFLATE (method 8, the from-scratch
# inflater above); CRC-32 and both sizes are verified per entry.

_ZIP_LOCAL_SIG = b"PK\x03\x04"
_ZIP_CENTRAL_SIG = b"PK\x01\x02"
_ZIP_EOCD_SIG = b"PK\x05\x06"


def encode_zip(entries: list[tuple[str, bytes, int]]) -> bytes:
    """Build a zip from (name, payload, method) triples — method 0
    (stored) or 8 (deflate).  Minimal but spec-shaped: local headers,
    central directory, EOCD."""
    out = bytearray()
    central = bytearray()
    for name, payload, method in entries:
        if method == 0:
            body = payload
        elif method == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = co.compress(payload) + co.flush()
        else:
            raise ValueError(f"unsupported zip method {method}")
        nm = name.encode()
        crc = crc32(payload)
        offset = len(out)
        head = struct.pack(
            "<IHHHHHIIIHH",
            0x04034B50, 20, 0, method, 0, 0,
            crc, len(body), len(payload), len(nm), 0,
        )
        out += head + nm + body
        central += struct.pack(
            "<IHHHHHHIIIHHHHHII",
            0x02014B50, 20, 20, 0, method, 0, 0,
            crc, len(body), len(payload), len(nm), 0, 0, 0, 0, 0,
            offset,
        ) + nm
    cd_off = len(out)
    out += central
    out += struct.pack(
        "<IHHHHIIH",
        0x06054B50, 0, 0, len(entries), len(entries),
        len(central), cd_off, 0,
    )
    return bytes(out)


def zip_entries_decode(data: bytes) -> list[tuple[str, bytes, int]]:
    """Walk a zip via its central directory: locate the EOCD record
    from the tail, read the directory, then decode each entry from
    its local header — stored or deflate — verifying CRC-32 (from
    scratch) and both sizes.  Returns (name, payload, method)."""
    # EOCD: scan backward (the record has a variable-length comment)
    scan_from = max(0, len(data) - 65536 - 22)
    eocd = data.rfind(_ZIP_EOCD_SIG, scan_from)
    if eocd < 0:
        raise ValueError("zip EOCD record not found")
    if eocd + 22 > len(data):
        raise ValueError("truncated zip EOCD")
    (_, _, _, n_here, n_total, cd_size, cd_off, _) = struct.unpack_from(
        "<IHHHHIIH", data, eocd
    )
    if n_here != n_total:
        raise ValueError("multi-disk zip not supported")
    pos = cd_off
    out: list[tuple[str, bytes, int]] = []
    for _ in range(n_total):
        if data[pos : pos + 4] != _ZIP_CENTRAL_SIG:
            raise ValueError("bad central-directory signature")
        (
            _, _, _, _, method, _, _, crc, csize, usize,
            nlen, xlen, clen, _, _, _, offset,
        ) = struct.unpack_from("<IHHHHHHIIIHHHHHII", data, pos)
        name = data[pos + 46 : pos + 46 + nlen].decode()
        pos += 46 + nlen + xlen + clen
        # local header: re-read lengths (they may differ in extra)
        if data[offset : offset + 4] != _ZIP_LOCAL_SIG:
            raise ValueError(f"bad local-header signature for {name!r}")
        (_, _, _, lmethod, _, _, _, _, _, lnlen, lxlen) = struct.unpack_from(
            "<IHHHHHIIIHH", data, offset
        )
        if lmethod != method:
            raise ValueError(f"method mismatch for {name!r}")
        body_off = offset + 30 + lnlen + lxlen
        if method == 0:
            if body_off + usize > len(data):
                raise ValueError("truncated stored zip entry")
            payload = data[body_off : body_off + usize]
        elif method == 8:
            payload, end = inflate_at(data, body_off)
            if end - body_off != csize:
                raise ValueError(f"compressed-size mismatch for {name!r}")
        else:
            raise ValueError(f"unsupported zip method {method}")
        if len(payload) != usize:
            raise ValueError(f"uncompressed-size mismatch for {name!r}")
        if crc32(payload) != crc:
            raise ValueError(f"CRC-32 mismatch for {name!r}")
        out.append((name, payload, method))
    return out


# --- tar (POSIX ustar): header-checksummed archive walk ----------------
#
# The third container of the data-lake trio (gzip members, zip, tar):
# 512-byte header blocks with OCTAL size fields and a spaces-seeded
# header checksum, payload padded to block size, two zero blocks at
# the end.  tar.gz is gzip_members_decode ∘ tar_members_decode.

_TAR_BLOCK = 512


def _tar_octal(value: int, width: int) -> bytes:
    return f"{value:0{width - 1}o}".encode() + b"\x00"


def encode_tar(entries: list[tuple[str, bytes]]) -> bytes:
    """Build a POSIX ustar archive from (name, payload) pairs."""
    out = bytearray()
    for name, payload in entries:
        nm = name.encode()
        if len(nm) > 100:
            raise ValueError("tar name longer than 100 bytes")
        head = bytearray(_TAR_BLOCK)
        head[0 : len(nm)] = nm
        head[100:108] = _tar_octal(0o644, 8)      # mode
        head[108:116] = _tar_octal(0, 8)          # uid
        head[116:124] = _tar_octal(0, 8)          # gid
        head[124:136] = _tar_octal(len(payload), 12)
        head[136:148] = _tar_octal(0, 12)         # mtime
        head[148:156] = b" " * 8                  # chksum seed
        head[156] = ord("0")                      # regular file
        head[257:263] = b"ustar\x00"
        head[263:265] = b"00"
        chksum = sum(head)
        head[148:156] = f"{chksum:06o}".encode() + b"\x00 "
        out += head + payload
        pad = -len(payload) % _TAR_BLOCK
        out += b"\x00" * pad
    out += b"\x00" * (2 * _TAR_BLOCK)
    return bytes(out)


def tar_members_decode(data: bytes) -> list[tuple[str, bytes]]:
    """Walk a ustar archive: verify each header's checksum (computed
    with the checksum field as spaces), read the octal size, collect
    regular-file payloads.  Raises ValueError on any malformed
    header; directories and other typeflags are skipped."""
    if len(data) % _TAR_BLOCK:
        raise ValueError("tar length is not a multiple of 512")
    pos = 0
    out: list[tuple[str, bytes]] = []
    while pos + _TAR_BLOCK <= len(data):
        head = data[pos : pos + _TAR_BLOCK]
        if head == b"\x00" * _TAR_BLOCK:  # end-of-archive zero block
            return out
        want = head[148:156].rstrip(b"\x00 ")
        try:
            want_sum = int(want, 8)
        except ValueError as exc:
            raise ValueError("bad tar checksum field") from exc
        got_sum = sum(head[:148]) + 8 * 0x20 + sum(head[156:])
        if got_sum != want_sum:
            raise ValueError("tar header checksum mismatch")
        name = head[:100].split(b"\x00", 1)[0].decode()
        size_field = head[124:136].rstrip(b"\x00 ")
        try:
            size = int(size_field, 8) if size_field else 0
        except ValueError as exc:
            raise ValueError("bad tar size field") from exc
        typeflag = head[156:157]
        pos += _TAR_BLOCK
        if pos + size > len(data):
            raise ValueError(f"truncated tar payload for {name!r}")
        if typeflag in (b"0", b"\x00"):
            out.append((name, data[pos : pos + size]))
        pos += size + (-size % _TAR_BLOCK)
    raise ValueError("tar stream ended without a zero block")


# --- WARC (ISO 28500): gzip-per-record web-archive parse ---------------
#
# The format crawl corpora actually arrive in: a .warc.gz is a
# CONCATENATION of gzip members, one WARC record each (that framing
# is what makes the archive seekable).  A record is a version line,
# named header fields, a blank line, Content-Length payload bytes,
# and a CRLF CRLF trailer.  The gzip layer is gzip_members_decode
# (from-scratch inflate + CRC-32); this layer parses the records.

_WARC_VERSION = b"WARC/1.0"


def encode_warc_record(headers: dict[str, str], payload: bytes) -> bytes:
    """Serialize one WARC record (Content-Length is derived)."""
    lines = [_WARC_VERSION]
    for k, v in headers.items():
        if k.lower() == "content-length":
            raise ValueError("Content-Length is derived, not passed")
        lines.append(f"{k}: {v}".encode())
    lines.append(f"Content-Length: {len(payload)}".encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def parse_warc_records(data: bytes) -> list[tuple[dict[str, str], bytes]]:
    """Parse concatenated WARC records (one buffer, e.g. the joined
    output of gzip_members_decode over a .warc.gz): returns
    (headers, payload) per record, Content-Length-driven."""
    out: list[tuple[dict[str, str], bytes]] = []
    pos = 0
    while pos < len(data):
        end = data.find(b"\r\n\r\n", pos)
        if end < 0:
            raise ValueError("WARC header block not terminated")
        block = data[pos:end].split(b"\r\n")
        if block[0] != _WARC_VERSION:
            raise ValueError(f"bad WARC version line {block[0]!r}")
        headers: dict[str, str] = {}
        for line in block[1:]:
            k, sep, v = line.partition(b": ")
            if not sep:
                raise ValueError(f"malformed WARC header line {line!r}")
            headers[k.decode()] = v.decode()
        if "Content-Length" not in headers:
            raise ValueError("WARC record missing Content-Length")
        n = int(headers["Content-Length"])
        body_start = end + 4
        if body_start + n + 4 > len(data):
            raise ValueError("truncated WARC payload")
        payload = data[body_start : body_start + n]
        if data[body_start + n : body_start + n + 4] != b"\r\n\r\n":
            raise ValueError("WARC record trailer missing")
        out.append((headers, payload))
        pos = body_start + n + 4
    if not out:
        raise ValueError("empty WARC stream")
    return out


# --- HTTP/1.1 chunked transfer-encoding (RFC 9112 §7.1) -----------------
#
# The body framing inside archived HTTP responses: hex chunk sizes
# (with optional ";ext" extensions), CRLF-framed chunk data, a zero
# chunk, optional trailer fields, final CRLF.


def encode_http_chunked(
    payload: bytes, sizes: list[int], ext: bool = False
) -> bytes:
    """Frame ``payload`` as chunked transfer coding, cutting chunks
    to ``sizes`` round-robin; optionally attach a chunk extension."""
    out = bytearray()
    pos = 0
    i = 0
    while pos < len(payload):
        n = min(sizes[i % len(sizes)], len(payload) - pos)
        i += 1
        head = f"{n:x}"
        if ext:
            head += ";seq=" + str(i)
        out += head.encode() + b"\r\n"
        out += payload[pos : pos + n] + b"\r\n"
        pos += n
    out += b"0\r\n\r\n"
    return bytes(out)


def decode_http_chunked(data: bytes) -> bytes:
    """Decode chunked transfer coding: hex sizes (extensions after
    ';' ignored per spec), CRLF framing verified, trailer section
    after the zero chunk skipped."""
    out = bytearray()
    pos = 0
    while True:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunk-size line not terminated")
        size_field = data[pos:eol].split(b";", 1)[0].strip()
        try:
            n = int(size_field, 16)
        except ValueError as exc:
            raise ValueError(f"bad chunk size {size_field!r}") from exc
        pos = eol + 2
        if n == 0:
            break
        if pos + n + 2 > len(data):
            raise ValueError("truncated chunk data")
        out += data[pos : pos + n]
        if data[pos + n : pos + n + 2] != b"\r\n":
            raise ValueError("chunk data not CRLF-terminated")
        pos += n + 2
    # trailer section: zero or more header lines, then a blank line
    while True:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("trailer section not terminated")
        if eol == pos:  # blank line: end of message
            pos += 2
            break
        pos = eol + 2
    if pos != len(data):
        raise ValueError("trailing bytes after chunked message")
    return bytes(out)


# --- Parquet footer (Thrift compact protocol), from scratch ------------
#
# The lake's own format: a parquet file ends [FileMetaData thrift]
# [u32 LE length]["PAR1"].  FileMetaData is Thrift COMPACT protocol
# (public spec): varint/zigzag ints, nibble-packed field headers with
# delta field ids, size-prefixed binaries, nested structs/lists.
# This reader implements enough of the protocol generically (typed
# skip for every kind) to pull num_rows, the schema element list and
# the row-group count out of REAL files written by arbitrary writers
# — the differential partner is SELECT count(*) over the same file.

_TC_STOP = 0
_TC_TRUE = 1
_TC_FALSE = 2
_TC_BYTE = 3
_TC_I16 = 4
_TC_I32 = 5
_TC_I64 = 6
_TC_DOUBLE = 7
_TC_BINARY = 8
_TC_LIST = 9
_TC_SET = 10
_TC_MAP = 11
_TC_STRUCT = 12


class _ThriftCompact:
    """Minimal generic Thrift compact-protocol reader."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated thrift stream")
        b = self.data[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        out = 0
        shift = 0
        while True:
            b = self.byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 70:
                raise ValueError("varint too long")

    def zigzag(self) -> int:
        v = self.varint()
        return (v >> 1) ^ -(v & 1)

    def binary(self) -> bytes:
        n = self.varint()
        if self.pos + n > len(self.data):
            raise ValueError("truncated thrift binary")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def skip(self, ftype: int, in_collection: bool = False) -> None:
        if ftype in (_TC_TRUE, _TC_FALSE):
            # as a STRUCT FIELD the bool value lives in the type
            # nibble (zero-width); as a list/set/map ELEMENT the
            # compact protocol writes one byte per bool
            if in_collection:
                self.byte()
            return
        if ftype == _TC_BYTE:
            self.byte()
        elif ftype in (_TC_I16, _TC_I32, _TC_I64):
            self.zigzag()
        elif ftype == _TC_DOUBLE:
            self.pos += 8
        elif ftype == _TC_BINARY:
            self.binary()
        elif ftype in (_TC_LIST, _TC_SET):
            size, etype = self.list_header()
            for _ in range(size):
                self.skip(etype, in_collection=True)
        elif ftype == _TC_MAP:
            size = self.varint()
            if size:
                kv = self.byte()
                for _ in range(size):
                    self.skip(kv >> 4, in_collection=True)
                    self.skip(kv & 0x0F, in_collection=True)
        elif ftype == _TC_STRUCT:
            for _fid, ft in self.fields():
                self.skip(ft)
        else:
            raise ValueError(f"unknown thrift compact type {ftype}")

    def list_header(self) -> tuple[int, int]:
        b = self.byte()
        size = b >> 4
        if size == 15:
            size = self.varint()
        return size, b & 0x0F

    def fields(self):
        """Iterate (field_id, type) of one struct until STOP; the
        caller must consume or skip each field's value."""
        fid = 0
        while True:
            b = self.byte()
            if b == _TC_STOP:
                return
            delta = b >> 4
            ftype = b & 0x0F
            if delta:
                fid += delta
            else:
                fid = self.zigzag()
            yield fid, ftype


def parse_parquet_footer(data: bytes) -> dict:
    """Parse a parquet file's FileMetaData with the from-scratch
    Thrift compact reader: returns num_rows, n_schema_elements (the
    root counts as one), n_leaf_columns, n_row_groups, created_by."""
    if len(data) < 12 or data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise ValueError("not a parquet file (PAR1 magic missing)")
    meta_len = struct.unpack_from("<I", data, len(data) - 8)[0]
    start = len(data) - 8 - meta_len
    if start < 4:
        raise ValueError("parquet footer length out of range")
    tc = _ThriftCompact(data, start)
    num_rows = None
    n_schema = 0
    n_leaves = 0
    n_row_groups = 0
    created_by = None
    for fid, ftype in tc.fields():
        if fid == 2 and ftype == _TC_LIST:  # schema: list<SchemaElement>
            size, etype = tc.list_header()
            n_schema = size
            for _ in range(size):
                # SchemaElement: field 5 = num_children (i32); leaves
                # have none
                has_children = False
                for sfid, sftype in tc.fields():
                    if sfid == 5 and sftype in (_TC_I16, _TC_I32, _TC_I64):
                        has_children = tc.zigzag() > 0
                    else:
                        tc.skip(sftype)
                if not has_children:
                    n_leaves += 1
        elif fid == 3 and ftype == _TC_I64:
            num_rows = tc.zigzag()
        elif fid == 4 and ftype == _TC_LIST:  # row_groups
            size, etype = tc.list_header()
            n_row_groups = size
            for _ in range(size):
                tc.skip(etype)
        elif fid == 6 and ftype == _TC_BINARY:
            created_by = tc.binary().decode("utf-8", "replace")
        else:
            tc.skip(ftype)
    if num_rows is None:
        raise ValueError("FileMetaData.num_rows missing")
    return {
        "num_rows": num_rows,
        "n_schema_elements": n_schema,
        "n_leaf_columns": n_leaves,
        "n_row_groups": n_row_groups,
        "created_by": created_by,
    }


# --- parquet DATA pages: snappy + RLE/bit-packed + PLAIN, from scratch ---
#
# The footer reader above proves the lake's CLAIMED metadata; this layer
# proves the BYTES: page headers (Thrift compact), from-scratch snappy
# block decompression (the public format description: varint preamble,
# 2-bit-tagged literal/copy elements), the RLE / bit-packed hybrid that
# carries definition levels and dictionary indices, and PLAIN value
# decoding for every flat physical type.  Differential posture: decoded
# column values must equal what pyarrow/DuckDB read from the SAME file.

_PQ_TYPE_BOOLEAN = 0
_PQ_TYPE_INT32 = 1
_PQ_TYPE_INT64 = 2
_PQ_TYPE_INT96 = 3
_PQ_TYPE_FLOAT = 4
_PQ_TYPE_DOUBLE = 5
_PQ_TYPE_BYTE_ARRAY = 6
_PQ_TYPE_FIXED = 7

_PQ_ENC_PLAIN = 0
_PQ_ENC_PLAIN_DICT = 2
_PQ_ENC_RLE = 3
_PQ_ENC_DELTA_BINARY = 5
_PQ_ENC_DELTA_LENGTH_BA = 6
_PQ_ENC_DELTA_BA = 7
_PQ_ENC_RLE_DICT = 8
_PQ_ENC_BYTE_STREAM_SPLIT = 9

_PQ_CODEC_NONE = 0
_PQ_CODEC_SNAPPY = 1
_PQ_CODEC_GZIP = 2
_PQ_CODEC_ZSTD = 6
_PQ_CODEC_LZ4_RAW = 7

_PQ_PAGE_DATA = 0
_PQ_PAGE_DICT = 2
_PQ_PAGE_DATA_V2 = 3


def snappy_decode(data: bytes) -> bytes:
    """From-scratch snappy BLOCK-format decompression (the framing
    parquet uses is the raw block, no stream wrapper): a varint
    uncompressed-length preamble, then 2-bit-tagged elements —
    literals (6-bit or 1..4-extra-byte lengths) and back-references
    with 1/2/4-byte offsets whose byte-at-a-time semantics permit
    overlapping copies (run replication).

    The element loop is the hottest pure-Python path in the parquet
    layer (a fact-table column chunk is millions of tiny elements),
    so the output is preallocated from the preamble and written
    through a cursor (no bytearray growth), non-overlapping copies
    take a single-slice fast path, and 1/2-byte offsets are computed
    arithmetically — measured 1.26x over the append-style loop on
    the sf0.1 fixture pages, byte-identical output."""
    n = 0
    shift = 0
    pos = 0
    n_in = len(data)
    while True:
        if pos >= n_in:
            raise ValueError("truncated snappy preamble")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 35:
            raise ValueError("snappy preamble varint too long")
    # the densest element is a 3-byte copy tag emitting 64 bytes, so no
    # valid block expands its remaining input more than 64/3-fold: check
    # the claimed length against that before sizing the buffer from it
    if 3 * n > 64 * (n_in - pos):
        raise ValueError(
            f"snappy preamble claims {n} bytes, more than the maximum "
            f"expansion of the {n_in - pos} input bytes left"
        )
    out = bytearray(n)
    w = 0
    from_bytes = int.from_bytes
    while pos < n_in:
        t = data[pos]
        pos += 1
        kind = t & 3
        if kind == 0:  # literal
            ln = t >> 2
            if ln >= 60:
                nb = ln - 59
                ln = from_bytes(data[pos : pos + nb], "little")
                pos += nb
            ln += 1
            end = pos + ln
            if end > n_in:
                raise ValueError("truncated snappy literal")
            we = w + ln
            if we > n:
                raise ValueError(
                    f"snappy length mismatch: got {we}, claimed {n}"
                )
            out[w:we] = data[pos:end]
            w = we
            pos = end
            continue
        if kind == 1:  # copy, 1-byte offset, 3-bit length
            if pos >= n_in:
                raise ValueError("truncated snappy copy tag")
            ln = ((t >> 2) & 7) + 4
            off = ((t >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            if pos + 2 > n_in:
                raise ValueError("truncated snappy copy tag")
            ln = (t >> 2) + 1
            off = data[pos] | (data[pos + 1] << 8)
            pos += 2
        else:  # copy, 4-byte offset
            if pos + 4 > n_in:
                raise ValueError("truncated snappy copy tag")
            ln = (t >> 2) + 1
            off = from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if off == 0 or off > w:
            raise ValueError("snappy copy offset out of range")
        we = w + ln
        if we > n:
            raise ValueError(f"snappy length mismatch: got {we}, claimed {n}")
        s = w - off
        if ln <= off:  # no overlap: one slice copy
            out[w:we] = out[s : s + ln]
            w = we
        else:  # overlap-safe: replicate at most `off` per step
            while ln > 0:
                take = ln if ln < off else off
                out[w : w + take] = out[s : s + take]
                s += take
                w += take
                ln -= take
    if w != n:
        raise ValueError(f"snappy length mismatch: got {w}, claimed {n}")
    return bytes(out)


def lz4_raw_decode(data: bytes) -> bytes:
    """From-scratch LZ4 BLOCK-format decompression (the raw block
    parquet's LZ4_RAW codec stores — no frame header): per sequence a
    token byte (4-bit literal length | 4-bit match length, 15 = 255-
    extension bytes follow), the literals, a 2-byte little-endian
    match offset, and a match of length 4 + token_low (+extensions);
    matches may overlap (run replication).  The final sequence is
    literals-only."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        token = data[pos]
        pos += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated lz4 literal length")
                b = data[pos]
                pos += 1
                lit += b
                if b != 255:
                    break
        if pos + lit > n:
            raise ValueError("truncated lz4 literals")
        out += data[pos : pos + lit]
        pos += lit
        if pos >= n:  # last sequence: literals only, no match
            break
        if pos + 2 > n:
            raise ValueError("truncated lz4 match offset")
        off = data[pos] | (data[pos + 1] << 8)
        pos += 2
        if off == 0 or off > len(out):
            raise ValueError("lz4 match offset out of range")
        mlen = (token & 0x0F) + 4
        if (token & 0x0F) == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated lz4 match length")
                b = data[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        while mlen > 0:  # overlap-safe replication
            take = min(mlen, off)
            out += out[len(out) - off : len(out) - off + take]
            mlen -= take
    return bytes(out)


def _pq_decompress(raw: bytes, codec: int, uncompressed_size: int) -> bytes:
    if codec == _PQ_CODEC_NONE:
        buf = raw
    elif codec == _PQ_CODEC_SNAPPY:
        buf = snappy_decode(raw)
    elif codec == _PQ_CODEC_GZIP:
        buf = b"".join(gzip_members_decode(raw))
    elif codec == _PQ_CODEC_ZSTD:
        buf = zstd_decode(raw)
    elif codec == _PQ_CODEC_LZ4_RAW:
        buf = lz4_raw_decode(raw)
    else:
        raise ValueError(f"unsupported parquet codec {codec}")
    if len(buf) != uncompressed_size:
        raise ValueError(
            f"page size mismatch: got {len(buf)}, header says {uncompressed_size}"
        )
    return buf


def _unpack_bits_le(buf: bytes, width: int, n: int) -> np.ndarray:
    """Unpack n back-to-back little-endian `width`-bit integers."""
    if width == 0:
        return np.zeros(n, np.int64)
    bits = np.unpackbits(
        np.frombuffer(buf, np.uint8, count=(n * width + 7) // 8),
        bitorder="little",
    )
    bits = bits[: n * width].reshape(n, width).astype(np.int64)
    return bits @ (np.int64(1) << np.arange(width, dtype=np.int64))


def _rle_hybrid(data: bytes, pos: int, width: int, n_values: int):
    """Decode exactly n_values from the parquet RLE / bit-packed
    hybrid at `pos`: varint headers, LSB bit = bit-packed (groups of
    8) vs RLE (fixed value in ceil(width/8) LE bytes).  Returns
    (values int64 array, new pos)."""
    out = np.empty(n_values, np.int64)
    i = 0
    vb = (width + 7) // 8
    while i < n_values:
        hdr = 0
        shift = 0
        while True:
            if pos >= len(data):
                raise ValueError("truncated RLE hybrid header")
            b = data[pos]
            pos += 1
            hdr |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 35:
                raise ValueError("RLE hybrid varint too long")
        if hdr & 1:  # bit-packed run: (hdr>>1) groups of 8 values
            n = (hdr >> 1) * 8
            nbytes = n * width // 8
            if pos + nbytes > len(data):
                raise ValueError("truncated bit-packed run")
            vals = _unpack_bits_le(data[pos : pos + nbytes], width, n)
            pos += nbytes
            take = min(n, n_values - i)
            out[i : i + take] = vals[:take]
            i += take
        else:  # RLE run
            run = hdr >> 1
            if run == 0:
                raise ValueError("zero-length RLE run")
            if pos + vb > len(data):
                raise ValueError("truncated RLE run value")
            val = int.from_bytes(data[pos : pos + vb], "little")
            pos += vb
            take = min(run, n_values - i)
            out[i : i + take] = val
            i += take
    return out, pos


def _plain_values(buf: bytes, pos: int, ptype: int, n: int, type_length: int):
    """PLAIN decoding for n values of a flat physical type starting at
    pos; returns (list of python values, new pos)."""
    if ptype == _PQ_TYPE_INT32:
        end = pos + 4 * n
        return np.frombuffer(buf, "<i4", n, pos).tolist(), end
    if ptype == _PQ_TYPE_INT64:
        end = pos + 8 * n
        return np.frombuffer(buf, "<i8", n, pos).tolist(), end
    if ptype == _PQ_TYPE_FLOAT:
        end = pos + 4 * n
        return np.frombuffer(buf, "<f4", n, pos).tolist(), end
    if ptype == _PQ_TYPE_DOUBLE:
        end = pos + 8 * n
        return np.frombuffer(buf, "<f8", n, pos).tolist(), end
    if ptype == _PQ_TYPE_BOOLEAN:
        nbytes = (n + 7) // 8
        bits = np.unpackbits(
            np.frombuffer(buf, np.uint8, nbytes, pos), bitorder="little"
        )[:n]
        return [bool(b) for b in bits], pos + nbytes
    if ptype == _PQ_TYPE_BYTE_ARRAY:
        out = []
        for _ in range(n):
            ln = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
            if pos + ln > len(buf):
                raise ValueError("truncated PLAIN byte array")
            out.append(bytes(buf[pos : pos + ln]))
            pos += ln
        return out, pos
    if ptype == _PQ_TYPE_FIXED:
        if pos + n * type_length > len(buf):
            raise ValueError("truncated PLAIN fixed-len byte array")
        out = []
        for _ in range(n):
            out.append(bytes(buf[pos : pos + type_length]))
            pos += type_length
        return out, pos
    raise ValueError(f"unsupported PLAIN physical type {ptype}")


def _pq_varint(buf: bytes, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated parquet varint")
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 70:
            raise ValueError("parquet varint too long")


def _pq_zigzag(buf: bytes, pos: int) -> tuple[int, int]:
    v, pos = _pq_varint(buf, pos)
    return (v >> 1) ^ -(v & 1), pos


def _delta_binary_packed(
    buf: bytes, pos: int, bits: int = 64
) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED: block header (block size, miniblocks per
    block, total count, zigzag first value), then per block a zigzag
    min-delta, one bit-width byte per miniblock, and full bit-packed
    miniblocks (the last block pads; miniblocks wholly past the end
    are not written).  ``bits`` is the physical-type width: INT32
    columns wrap their running sum mod 2^32, INT64 mod 2^64 — using
    the wrong modulus silently corrupts valid files whose deltas
    overflow the narrower type."""
    block_size, pos = _pq_varint(buf, pos)
    nmini, pos = _pq_varint(buf, pos)
    total, pos = _pq_varint(buf, pos)
    if total == 0:
        return [], pos
    first, pos = _pq_zigzag(buf, pos)
    if nmini == 0 or block_size % nmini:
        raise ValueError("malformed delta-binary-packed header")
    vpm = block_size // nmini
    mask = (1 << bits) - 1
    sign = 1 << (bits - 1)
    wrap = 1 << bits
    out = [first]
    while len(out) < total:
        min_delta, pos = _pq_zigzag(buf, pos)
        widths = buf[pos : pos + nmini]
        pos += nmini
        for w in widths:
            if len(out) >= total:
                break
            nbytes = vpm * w // 8
            deltas = _unpack_bits_le(buf[pos : pos + nbytes], w, vpm)
            pos += nbytes
            need = min(vpm, total - len(out))
            prev = out[-1]
            for d in deltas[:need].tolist():
                # type-width arithmetic wraps (wide miniblocks carry
                # deltas that overflow); reduce and sign-extend so
                # values stay bit-for-bit with int32/int64 readers
                v = (prev + min_delta + d) & mask
                prev = v - wrap if v >= sign else v
                out.append(prev)
    return out, pos


def _delta_length_byte_array(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """DELTA_LENGTH_BYTE_ARRAY: lengths as DELTA_BINARY_PACKED (the
    spec types lengths as INT32), then the concatenated value bytes."""
    lengths, pos = _delta_binary_packed(buf, pos, bits=32)
    out = []
    for ln in lengths:
        if ln < 0 or pos + ln > len(buf):
            raise ValueError("truncated delta-length byte array")
        out.append(bytes(buf[pos : pos + ln]))
        pos += ln
    return out, pos


def _delta_byte_array(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """DELTA_BYTE_ARRAY (incremental/front-coded): per-value shared
    prefix lengths as DELTA_BINARY_PACKED, suffixes as
    DELTA_LENGTH_BYTE_ARRAY; value_i = value_{i-1}[:prefix_i] + suffix_i."""
    prefixes, pos = _delta_binary_packed(buf, pos, bits=32)
    suffixes, pos = _delta_length_byte_array(buf, pos)
    if len(prefixes) != len(suffixes):
        raise ValueError("delta byte array prefix/suffix count mismatch")
    out: list[bytes] = []
    prev = b""
    for pl, suf in zip(prefixes, suffixes):
        if pl > len(prev):
            raise ValueError("delta byte array prefix longer than previous")
        prev = prev[:pl] + suf
        out.append(prev)
    return out, pos


def _pq_schema_leaves(
    tc: "_ThriftCompact", n_elements: int
) -> tuple[list[dict], dict[str, dict]]:
    """Walk the flattened-preorder SchemaElement list: returns
    (leaves, groups) — leaves in schema order with dotted path,
    physical type, type_length, max definition level, and max
    repetition level, and every GROUP node keyed by dotted path with
    its own max_def/max_rep/rep_def (struct and list reassembly need
    the group's definition level, which no leaf records).  ``rep_def``
    is the definition level AT the innermost repeated ancestor (0 for
    flat columns): def >= rep_def means an element slot exists,
    def == rep_def - 1 is an empty list, anything lower is a null
    somewhere above the list — the three cases Dremel reassembly
    needs."""
    leaves: list[dict] = []
    groups: dict[str, dict] = {}
    # stack of [remaining_children, name, max_def, max_rep, rep_def]
    stack: list[list] = []
    for idx in range(n_elements):
        ptype = None
        type_length = 0
        repetition = 0  # REQUIRED when absent (the root omits it)
        name = ""
        num_children = 0
        for sfid, sftype in tc.fields():
            if sfid == 1 and sftype in (_TC_I16, _TC_I32, _TC_I64):
                ptype = tc.zigzag()
            elif sfid == 2 and sftype in (_TC_I16, _TC_I32, _TC_I64):
                type_length = tc.zigzag()
            elif sfid == 3 and sftype in (_TC_I16, _TC_I32, _TC_I64):
                repetition = tc.zigzag()
            elif sfid == 4 and sftype == _TC_BINARY:
                name = tc.binary().decode("utf-8", "replace")
            elif sfid == 5 and sftype in (_TC_I16, _TC_I32, _TC_I64):
                num_children = tc.zigzag()
            else:
                tc.skip(sftype)
        if idx == 0:  # root group
            stack.append([num_children, "", 0, 0, 0])
            continue
        parent = stack[-1]
        # optional AND repeated nodes each deepen the definition level
        max_def = parent[2] + (1 if repetition in (1, 2) else 0)
        max_rep = parent[3] + (1 if repetition == 2 else 0)
        rep_def = max_def if repetition == 2 else parent[4]
        path = f"{parent[1]}.{name}" if parent[1] else name
        parent[0] -= 1
        if num_children:
            groups[path] = {
                "max_def": max_def,
                "max_rep": max_rep,
                "rep_def": rep_def,
                "repetition": repetition,
            }
            stack.append([num_children, path, max_def, max_rep, rep_def])
        else:
            leaves.append(
                {
                    "path": path,
                    "type": ptype,
                    "type_length": type_length,
                    "max_def": max_def,
                    "max_rep": max_rep,
                    "rep_def": rep_def,
                }
            )
            while stack and stack[-1][0] == 0:
                stack.pop()
    return leaves, groups


def parse_parquet_metadata(data: bytes) -> dict:
    """Full structural FileMetaData parse: num_rows, schema leaves
    (with def/rep depths), and per-row-group column chunks keyed by
    dotted path with (codec, num_values, data/dict page offsets,
    total_compressed_size)."""
    if len(data) < 12 or data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise ValueError("not a parquet file (PAR1 magic missing)")
    meta_len = struct.unpack_from("<I", data, len(data) - 8)[0]
    start = len(data) - 8 - meta_len
    if start < 4:
        raise ValueError("parquet footer length out of range")
    tc = _ThriftCompact(data, start)
    num_rows = None
    leaves: list[dict] = []
    groups: dict[str, dict] = {}
    row_groups: list[dict] = []
    for fid, ftype in tc.fields():
        if fid == 2 and ftype == _TC_LIST:  # schema
            size, _etype = tc.list_header()
            leaves, groups = _pq_schema_leaves(tc, size)
        elif fid == 3 and ftype == _TC_I64:
            num_rows = tc.zigzag()
        elif fid == 4 and ftype == _TC_LIST:  # row_groups
            size, _etype = tc.list_header()
            for _ in range(size):
                chunks: dict[str, dict] = {}
                rg_rows = None
                for rfid, rftype in tc.fields():
                    if rfid == 1 and rftype == _TC_LIST:  # columns
                        csize, _ce = tc.list_header()
                        for _c in range(csize):
                            cm = _pq_column_chunk(tc)
                            if cm is not None:
                                chunks[cm.pop("path")] = cm
                    elif rfid == 3 and rftype in (_TC_I16, _TC_I32, _TC_I64):
                        rg_rows = tc.zigzag()
                    else:
                        tc.skip(rftype)
                row_groups.append({"num_rows": rg_rows, "chunks": chunks})
        else:
            tc.skip(ftype)
    if num_rows is None:
        raise ValueError("FileMetaData.num_rows missing")
    return {
        "num_rows": num_rows,
        "leaves": leaves,
        "groups": groups,
        "row_groups": row_groups,
    }


def _pq_column_chunk(tc: "_ThriftCompact") -> dict | None:
    """One ColumnChunk struct: returns its ColumnMetaData essentials."""
    meta = None
    for fid, ftype in tc.fields():
        if fid == 3 and ftype == _TC_STRUCT:  # meta_data
            m = {
                "type": None,
                "codec": _PQ_CODEC_NONE,
                "num_values": 0,
                "data_page_offset": None,
                "dictionary_page_offset": None,
                "total_compressed_size": None,
                "stats": None,
            }
            path: list[str] = []
            for mfid, mftype in tc.fields():
                if mfid == 1 and mftype in (_TC_I16, _TC_I32, _TC_I64):
                    m["type"] = tc.zigzag()
                elif mfid == 3 and mftype == _TC_LIST:
                    psize, _pe = tc.list_header()
                    for _ in range(psize):
                        path.append(tc.binary().decode("utf-8", "replace"))
                elif mfid == 4 and mftype in (_TC_I16, _TC_I32, _TC_I64):
                    m["codec"] = tc.zigzag()
                elif mfid == 5 and mftype in (_TC_I16, _TC_I32, _TC_I64):
                    m["num_values"] = tc.zigzag()
                elif mfid == 7 and mftype in (_TC_I16, _TC_I32, _TC_I64):
                    m["total_compressed_size"] = tc.zigzag()
                elif mfid == 9 and mftype in (_TC_I16, _TC_I32, _TC_I64):
                    m["data_page_offset"] = tc.zigzag()
                elif mfid == 11 and mftype in (_TC_I16, _TC_I32, _TC_I64):
                    m["dictionary_page_offset"] = tc.zigzag()
                elif mfid == 12 and mftype == _TC_STRUCT:  # Statistics
                    st: dict = {}
                    for sfid2, sftype2 in tc.fields():
                        if sfid2 == 3 and sftype2 in (
                            _TC_I16, _TC_I32, _TC_I64,
                        ):
                            st["null_count"] = tc.zigzag()
                        elif sfid2 == 5 and sftype2 == _TC_BINARY:
                            st["max"] = tc.binary()
                        elif sfid2 == 6 and sftype2 == _TC_BINARY:
                            st["min"] = tc.binary()
                        else:
                            tc.skip(sftype2)
                    m["stats"] = st
                else:
                    tc.skip(mftype)
            m["path"] = ".".join(path)
            meta = m
        else:
            tc.skip(ftype)
    return meta


def _pq_page_header(tc: "_ThriftCompact") -> dict:
    h = {
        "type": None,
        "uncompressed_page_size": None,
        "compressed_page_size": None,
        "data": None,
        "dict": None,
        "data_v2": None,
    }
    for fid, ftype in tc.fields():
        if fid == 1 and ftype in (_TC_I16, _TC_I32, _TC_I64):
            h["type"] = tc.zigzag()
        elif fid == 2 and ftype in (_TC_I16, _TC_I32, _TC_I64):
            h["uncompressed_page_size"] = tc.zigzag()
        elif fid == 3 and ftype in (_TC_I16, _TC_I32, _TC_I64):
            h["compressed_page_size"] = tc.zigzag()
        elif fid == 5 and ftype == _TC_STRUCT:  # DataPageHeader
            d = {
                "num_values": None,
                "encoding": None,
                "def_enc": None,
                "rep_enc": None,
            }
            for dfid, dftype in tc.fields():
                if dfid == 1 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["num_values"] = tc.zigzag()
                elif dfid == 2 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["encoding"] = tc.zigzag()
                elif dfid == 3 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["def_enc"] = tc.zigzag()
                elif dfid == 4 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["rep_enc"] = tc.zigzag()
                else:
                    tc.skip(dftype)
            h["data"] = d
        elif fid == 7 and ftype == _TC_STRUCT:  # DictionaryPageHeader
            d = {"num_values": None, "encoding": None}
            for dfid, dftype in tc.fields():
                if dfid == 1 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["num_values"] = tc.zigzag()
                elif dfid == 2 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["encoding"] = tc.zigzag()
                else:
                    tc.skip(dftype)
            h["dict"] = d
        elif fid == 8 and ftype == _TC_STRUCT:  # DataPageHeaderV2
            d = {
                "num_values": None,
                "num_nulls": None,
                "encoding": None,
                "def_len": 0,
                "rep_len": 0,
                "is_compressed": True,
            }
            for dfid, dftype in tc.fields():
                if dfid == 1 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["num_values"] = tc.zigzag()
                elif dfid == 2 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["num_nulls"] = tc.zigzag()
                elif dfid == 4 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["encoding"] = tc.zigzag()
                elif dfid == 5 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["def_len"] = tc.zigzag()
                elif dfid == 6 and dftype in (_TC_I16, _TC_I32, _TC_I64):
                    d["rep_len"] = tc.zigzag()
                elif dfid == 7 and dftype in (_TC_TRUE, _TC_FALSE):
                    d["is_compressed"] = dftype == _TC_TRUE
                else:
                    tc.skip(dftype)
            h["data_v2"] = d
        else:
            tc.skip(ftype)
    if h["type"] is None or h["compressed_page_size"] is None:
        raise ValueError("malformed parquet page header")
    return h


def _decode_indices(buf: bytes, n: int) -> np.ndarray:
    """Dictionary-index stream: one width byte, then the RLE hybrid."""
    if not buf:
        raise ValueError("empty dictionary-index stream")
    width = buf[0]
    vals, _pos = _rle_hybrid(buf, 1, width, n)
    return vals


def read_parquet_column(data: bytes, column: str) -> list:
    """Decode every value of one flat column across all row groups and
    pages, straight off the file bytes: page-header Thrift walk,
    snappy/gzip/uncompressed pages, dictionary + PLAIN/DELTA value
    decode, definition-level RLE for nulls.  Returns python values in
    file order (None for nulls).  Nested/repeated columns raise."""
    return _read_column(data, parse_parquet_metadata(data), column)


def read_parquet_columns(data: bytes, columns: list[str]) -> dict[str, list]:
    """Decode several columns with ONE footer/schema/row-group parse
    (the footer walk is the allocation-heavy pure-Python step; per-
    column re-parsing doubles it for every extra column)."""
    meta = parse_parquet_metadata(data)
    return {c: _read_column(data, meta, c) for c in columns}


def _read_column(data: bytes, meta: dict, column: str) -> list:
    leaf = next((l for l in meta["leaves"] if l["path"] == column), None)
    if leaf is None:
        raise ValueError(f"no such column {column!r}")
    if leaf["max_rep"]:
        raise ValueError(
            f"column {column!r} is repeated — use read_parquet_list_column"
        )
    slots, _reps, _defs = _read_column_slots(data, meta, leaf)
    return slots


def read_parquet_column_page_group(
    data: bytes, column: str, group: int, n_groups: int
) -> list:
    """Decode one flat column's values for the data pages whose
    file-order index i satisfies ``i % n_groups == group`` — the
    intra-chunk parallel unit for order-free aggregates (counts,
    hash sums): N tasks each walk the cheap page HEADERS but
    decompress and decode only their 1/N share of page bodies, so a
    fat fact column's pages hash on N cores instead of serially in
    one.  Dictionary pages are always decoded (every group's pages
    may reference them).  The union of all groups' values is exactly
    read_parquet_column's value multiset (per-group file order is
    preserved; cross-group order is the caller's non-requirement)."""
    if not 0 <= group < n_groups:
        raise ValueError(f"group {group} outside 0..{n_groups - 1}")
    meta = parse_parquet_metadata(data)
    leaf = next((l for l in meta["leaves"] if l["path"] == column), None)
    if leaf is None:
        raise ValueError(f"no such column {column!r}")
    if leaf["max_rep"]:
        raise ValueError(
            f"column {column!r} is repeated — use read_parquet_list_column"
        )
    slots, _reps, _defs = _read_column_slots(
        data, meta, leaf, page_filter=lambda i: i % n_groups == group
    )
    return slots


def _pq_assemble_tree(
    path: str, meta: dict, slot_map: dict, def_map: dict
) -> list:
    """Reassemble the def-level-only subtree rooted at group ``path``
    into one python value per slot: a dict of field values, None where
    the group node itself is undefined (its own or an ancestor's
    null).  Field values come from ``slot_map`` (already None-masked
    at def < leaf max_def); nested non-repeated groups recurse.
    Repeated descendants are the caller's job to reject."""
    groups = meta["groups"]
    gdef = groups[path]["max_def"]
    prefix = path + "."
    children: list[tuple[str, str, bool]] = []  # (name, path, is_group)
    seen: set[str] = set()
    first_leaf = None
    for l in meta["leaves"]:
        if not l["path"].startswith(prefix):
            continue
        if first_leaf is None:
            first_leaf = l["path"]
        name = l["path"][len(prefix):].split(".", 1)[0]
        if name in seen:
            continue
        seen.add(name)
        cp = prefix + name
        children.append((name, cp, cp in groups))
    if first_leaf is None:
        raise ValueError(f"group {path!r} has no leaf columns")
    defs0 = def_map[first_leaf]
    n = len(slot_map[first_leaf])
    cols = {
        name: (
            _pq_assemble_tree(cp, meta, slot_map, def_map)
            if isg
            else slot_map[cp]
        )
        for name, cp, isg in children
    }
    names = [name for name, _cp, _isg in children]
    out: list = []
    for i in range(n):
        d0 = defs0[i] if defs0 else gdef
        out.append(
            None if d0 < gdef else {name: cols[name][i] for name in names}
        )
    return out


def read_parquet_struct_column(data: bytes, column: str) -> list:
    """Decode a non-repeated GROUP (struct) column across all row
    groups and pages: every leaf under the group is page-walked once,
    then definition levels distinguish null struct (or null ancestor)
    from null field, yielding one python value per row — None or a
    dict of field values (nested structs recurse into nested dicts).
    Lists inside the struct raise loudly (repeated descendants need
    the slot-level path in read_parquet_list_column)."""
    meta = parse_parquet_metadata(data)
    g = meta["groups"].get(column)
    if g is None:
        if any(l["path"] == column for l in meta["leaves"]):
            raise ValueError(
                f"column {column!r} is a leaf — use read_parquet_column"
            )
        raise ValueError(f"no such column {column!r}")
    if g["max_rep"] or g["repetition"] == 2:
        raise ValueError(
            f"column {column!r} is repeated — use read_parquet_list_column"
        )
    leaves = [l for l in meta["leaves"] if l["path"].startswith(column + ".")]
    slot_map: dict[str, list] = {}
    def_map: dict[str, list] = {}
    for leaf in leaves:
        if leaf["max_rep"]:
            raise ValueError(
                f"leaf {leaf['path']!r} is repeated — lists inside"
                " structs are unsupported (out of profile, loud)"
            )
        slots, _reps, defs = _read_column_slots(data, meta, leaf)
        slot_map[leaf["path"]] = slots
        def_map[leaf["path"]] = defs
    return _pq_assemble_tree(column, meta, slot_map, def_map)


def read_parquet_list_column(data: bytes, column: str) -> list:
    """Decode a single-level LIST column (max_rep == 1) across all row
    groups and pages: repetition + definition levels are read from
    every page and Dremel-reassembled into one python value per ROW —
    None (null list), [] (empty list), or a list whose elements are
    values / None (null element).  ``column`` is either the full
    dotted leaf path or the top-level field name (pyarrow writes the
    3-level layout ``col.list.element``).  A list<struct> column —
    the element is a non-repeated group — reassembles every leaf
    under the element group into per-element dicts (nested structs
    recurse); every leaf's repetition stream is cross-checked so a
    malformed file fails loudly instead of zipping misaligned slots.
    Deeper nesting (max_rep >= 2) raises."""
    meta = parse_parquet_metadata(data)
    leaves = [
        l
        for l in meta["leaves"]
        if l["path"] == column or l["path"].startswith(column + ".")
    ]
    if not leaves:
        raise ValueError(f"no such column {column!r}")
    for leaf in leaves:
        if leaf["max_rep"] != 1:
            raise ValueError(
                f"column {leaf['path']!r} has max_rep {leaf['max_rep']}"
                " (only flat or single-level list columns)"
            )
    rep_def = leaves[0]["rep_def"]
    if any(l["rep_def"] != rep_def for l in leaves):
        raise ValueError(f"column {column!r}: leaves disagree on rep_def")
    slot_map: dict[str, list] = {}
    def_map: dict[str, list] = {}
    reps0: list | None = None
    for leaf in leaves:
        slots, reps, defs = _read_column_slots(data, meta, leaf)
        if reps0 is None:
            reps0 = reps
        elif reps != reps0:
            raise ValueError(
                f"column {column!r}: leaf repetition streams disagree"
            )
        slot_map[leaf["path"]] = slots
        def_map[leaf["path"]] = defs
    # scalar element: the single leaf is the repeated node itself
    # (2-level layout) or the direct child of the repeated group
    # (3-level ``col.list.element``); anything else is a struct
    # element reassembled from ALL its leaves — the FIRST-leaf-only
    # shortcut silently returned one field's values for list<struct>.
    scalar = False
    if len(leaves) == 1:
        leaf = leaves[0]
        if leaf["path"] == column:
            scalar = True  # the leaf itself is repeated
        else:
            parent = leaf["path"].rsplit(".", 1)[0]
            pg = meta["groups"].get(parent)
            scalar = pg is not None and pg["repetition"] == 2
    if scalar:
        elems = slot_map[leaves[0]["path"]]
        defs0 = def_map[leaves[0]["path"]]
    else:
        # element group: the child group of the repeated node that
        # contains every leaf
        rep_node = next(
            (
                p
                for p, g in meta["groups"].items()
                if (p == column or p.startswith(column + "."))
                and g["repetition"] == 2
            ),
            None,
        )
        if rep_node is None:
            raise ValueError(
                f"column {column!r}: no repeated node in schema"
            )
        rest = leaves[0]["path"][len(rep_node) + 1 :]
        elem_group = rep_node + "." + rest.split(".", 1)[0]
        if elem_group not in meta["groups"] or not all(
            l["path"].startswith(elem_group + ".") for l in leaves
        ):
            raise ValueError(
                f"column {column!r}: unrecognized nested layout"
            )
        elems = _pq_assemble_tree(elem_group, meta, slot_map, def_map)
        defs0 = def_map[leaves[0]["path"]]
    rows: list = []
    for t, (r, dl) in enumerate(zip(reps0, defs0)):
        v = elems[t]
        if r:  # continuation of the current row's list
            rows[-1].append(v)
        elif dl >= rep_def:  # new row, first element slot
            rows.append([v])
        elif dl == rep_def - 1:  # list node defined but no elements
            rows.append([])
        else:  # an ancestor above the list is null
            rows.append(None)
    return rows


def read_parquet_column_pruned(
    data: bytes, column: str, lo, hi
) -> dict:
    """Decode one flat column restricted to row groups whose footer
    min/max statistics can intersect [lo, hi] (both inclusive; same
    python type as the column — int, float, or bytes).  A row group
    is skipped when its chunk statistics prove max < lo or min > hi;
    groups without statistics are always scanned (prune must never
    change results).  Returns {"values": [...], "rg_total": M,
    "rg_scanned": N} — the caller still applies the exact predicate
    to the returned values.  Pruned groups' page bytes are NEVER
    read or decompressed (tests corrupt them and the pruned read
    still succeeds): at 100 TB this footer-stats skip is the scan
    path itself — the physical half of the filter_zorder_range
    story."""
    meta = parse_parquet_metadata(data)
    leaf = next((l for l in meta["leaves"] if l["path"] == column), None)
    if leaf is None:
        raise ValueError(f"no such column {column!r}")
    if leaf["max_rep"]:
        raise ValueError(
            f"column {column!r} is repeated — stats pruning is for"
            " flat columns"
        )
    scanned = _pq_prune_row_groups(meta, column, lo, hi)
    slots, _reps, _defs = _read_column_slots(
        data, meta, leaf, row_groups=scanned
    )
    return {
        "values": slots,
        "rg_total": len(meta["row_groups"]),
        "rg_scanned": len(scanned),
    }


def _pq_prune_row_groups(meta: dict, column: str, lo, hi) -> list[dict]:
    """Row groups whose ``column`` chunk statistics can intersect
    [lo, hi]; groups without statistics always survive."""
    scanned: list[dict] = []
    for rg in meta["row_groups"]:
        ck = rg["chunks"].get(column)
        if ck is None:
            raise ValueError(f"row group missing chunk for {column!r}")
        st = ck["stats"]
        if st and "min" in st and "max" in st:
            mn = decode_parquet_stat(st["min"], ck["type"])
            mx = decode_parquet_stat(st["max"], ck["type"])
            if mx < lo or mn > hi:
                continue
        scanned.append(rg)
    return scanned


def read_parquet_rowgroups_pruned(
    data: bytes, filter_column: str, lo, hi, columns: list[str]
) -> dict:
    """The real pruned-scan shape: row groups are selected by ONE
    filter column's min/max statistics, then EVERY requested column
    is decoded from just the surviving groups (row alignment across
    columns is preserved because pruning is group-granular).  Pruned
    groups' page bytes — for all columns — are never touched.
    Returns {"columns": {name: values}, "rg_total": M,
    "rg_scanned": N}; the caller applies the exact predicate to the
    returned rows."""
    meta = parse_parquet_metadata(data)
    scanned = _pq_prune_row_groups(meta, filter_column, lo, hi)
    out: dict[str, list] = {}
    for c in columns:
        leaf = next((l for l in meta["leaves"] if l["path"] == c), None)
        if leaf is None:
            raise ValueError(f"no such column {c!r}")
        if leaf["max_rep"]:
            raise ValueError(f"column {c!r} is repeated")
        slots, _reps, _defs = _read_column_slots(
            data, meta, leaf, row_groups=scanned
        )
        out[c] = slots
    return {
        "columns": out,
        "rg_total": len(meta["row_groups"]),
        "rg_scanned": len(scanned),
    }


def _read_column_slots(
    data: bytes,
    meta: dict,
    leaf: dict,
    row_groups: list | None = None,
    page_filter=None,
) -> tuple[list, list, list]:
    """Page walk for one leaf: returns (slot values with None where
    def < max_def, repetition levels, definition levels) in file
    order.  For flat columns the level lists are empty (not needed)
    and slots are the column values themselves.  ``row_groups``
    restricts the walk to a subset (statistics pruning).
    ``page_filter(i)`` — i the file-order DATA-page index — selects
    which page bodies are decompressed/decoded (headers are always
    walked, dictionary pages always decoded); filtered-out pages
    contribute no slots and no levels."""
    column = leaf["path"]
    max_def = leaf["max_def"]
    max_rep = leaf["max_rep"]
    def_width = max(1, (max_def).bit_length()) if max_def else 0
    rep_width = max_rep.bit_length()
    ptype, tlen = leaf["type"], leaf["type_length"]
    out: list = []
    reps_all: list = []
    defs_all: list = []
    dp_idx = 0  # file-order data-page index across row groups
    for rg in meta["row_groups"] if row_groups is None else row_groups:
        ck = rg["chunks"].get(column)
        if ck is None:
            raise ValueError(f"row group missing chunk for {column!r}")
        offsets = [
            o
            for o in (ck["dictionary_page_offset"], ck["data_page_offset"])
            if o is not None
        ]
        pos = min(offsets)
        dictionary: tuple | None = None
        remaining = ck["num_values"]
        while remaining > 0:
            tc = _ThriftCompact(data, pos)
            h = _pq_page_header(tc)
            body_start = tc.pos
            raw = data[body_start : body_start + h["compressed_page_size"]]
            pos = body_start + h["compressed_page_size"]
            if h["type"] == _PQ_PAGE_DICT:
                buf = _pq_decompress(
                    raw, ck["codec"], h["uncompressed_page_size"]
                )
                dvals, _p = _plain_values(
                    buf, 0, ptype, h["dict"]["num_values"], tlen
                )
                # numeric dictionaries also get a numpy mirror so
                # data pages can gather values vectorized; tolist()
                # of the gather restores the identical python values
                dnp = (
                    np.asarray(dvals)
                    if dvals
                    and ptype
                    in (
                        _PQ_TYPE_INT32,
                        _PQ_TYPE_INT64,
                        _PQ_TYPE_FLOAT,
                        _PQ_TYPE_DOUBLE,
                    )
                    else None
                )
                dictionary = (dvals, dnp)
                continue
            if h["type"] == _PQ_PAGE_DATA:
                d = h["data"]
                n = d["num_values"]
                take_page = page_filter is None or page_filter(dp_idx)
                dp_idx += 1
                if not take_page:  # another group's page: skip body
                    remaining -= n
                    continue
                buf = _pq_decompress(
                    raw, ck["codec"], h["uncompressed_page_size"]
                )
                p = 0
                defs = None
                for present, enc_key, what in (
                    (max_rep, "rep_enc", "repetition"),
                    (max_def, "def_enc", "definition"),
                ):
                    # only levels actually written are checked (writers
                    # may leave arbitrary encodings for absent levels)
                    if (
                        present
                        and d[enc_key] is not None
                        and d[enc_key] != _PQ_ENC_RLE
                    ):
                        # legacy BIT_PACKED levels have a different
                        # layout — misreading them silently corrupts
                        # nulls, so out-of-profile fails loudly
                        raise ValueError(
                            f"unsupported {what}-level encoding "
                            f"{d[enc_key]} (only RLE)"
                        )
                if max_rep:
                    rl = int.from_bytes(buf[p : p + 4], "little")
                    p += 4
                    reps, _rp = _rle_hybrid(buf, p, rep_width, n)
                    p += rl
                    reps_all.extend(reps.tolist())
                if max_def:
                    dl = int.from_bytes(buf[p : p + 4], "little")
                    p += 4
                    defs, _dp = _rle_hybrid(buf, p, def_width, n)
                    p += dl
                    defs_all.extend(defs.tolist())
                out.extend(
                    _page_values(
                        buf, p, d["encoding"], ptype, tlen, n, defs,
                        max_def, dictionary,
                    )
                )
                remaining -= n
                continue
            if h["type"] == _PQ_PAGE_DATA_V2:
                d = h["data_v2"]
                n = d["num_values"]
                take_page = page_filter is None or page_filter(dp_idx)
                dp_idx += 1
                if not take_page:  # another group's page: skip body
                    remaining -= n
                    continue
                lev_len = d["rep_len"] + d["def_len"]
                levels = raw[:lev_len]  # V2 levels are never compressed
                defs = None
                if max_rep:
                    # V2 levels carry no 4-byte prefix (lengths are in
                    # the page header)
                    reps, _rp = _rle_hybrid(levels, 0, rep_width, n)
                    reps_all.extend(reps.tolist())
                if max_def:
                    defs, _dp = _rle_hybrid(
                        levels, d["rep_len"], def_width, n
                    )
                    defs_all.extend(defs.tolist())
                vals_raw = raw[lev_len:]
                if d["is_compressed"]:
                    buf = _pq_decompress(
                        vals_raw,
                        ck["codec"],
                        h["uncompressed_page_size"] - lev_len,
                    )
                else:
                    buf = vals_raw
                out.extend(
                    _page_values(
                        buf, 0, d["encoding"], ptype, tlen, n, defs,
                        max_def, dictionary,
                    )
                )
                remaining -= n
                continue
            raise ValueError(f"unsupported parquet page type {h['type']}")
    return out, reps_all, defs_all


def _page_values(
    buf: bytes,
    p: int,
    encoding: int,
    ptype: int,
    tlen: int,
    n: int,
    defs,
    max_def: int,
    dictionary,
) -> list:
    n_present = (
        n if defs is None else int((defs == max_def).sum())
    )
    if encoding in (_PQ_ENC_PLAIN_DICT, _PQ_ENC_RLE_DICT):
        if dictionary is None:
            raise ValueError("dictionary-encoded page before dictionary page")
        idx = _decode_indices(buf[p:], n_present)
        dvals, dnp = dictionary
        if dnp is not None and len(idx):
            # numeric dictionary: one vectorized gather instead of a
            # per-value python lookup loop (tolist() restores the
            # exact python int/float values the loop produced)
            if idx.max() >= len(dnp):
                raise IndexError("dictionary index out of range")
            present = dnp[idx].tolist()
        else:
            present = [dvals[i] for i in idx.tolist()]
    elif encoding == _PQ_ENC_PLAIN:
        present, _pp = _plain_values(buf, p, ptype, n_present, tlen)
    elif encoding == _PQ_ENC_RLE and ptype == _PQ_TYPE_BOOLEAN:
        # RLE as a VALUE encoding (booleans): 4-byte LE byte-length
        # prefix, then the width-1 hybrid
        vals, _vp = _rle_hybrid(buf, p + 4, 1, n_present)
        present = [bool(v) for v in vals]
    elif encoding == _PQ_ENC_DELTA_BINARY and ptype in (
        _PQ_TYPE_INT32,
        _PQ_TYPE_INT64,
    ):
        present, _vp = _delta_binary_packed(
            buf, p, bits=32 if ptype == _PQ_TYPE_INT32 else 64
        )
        if len(present) != n_present:
            raise ValueError("delta-binary value count mismatch")
    elif encoding == _PQ_ENC_DELTA_LENGTH_BA and ptype == _PQ_TYPE_BYTE_ARRAY:
        present, _vp = _delta_length_byte_array(buf, p)
        if len(present) != n_present:
            raise ValueError("delta-length value count mismatch")
    elif encoding == _PQ_ENC_DELTA_BA and ptype in (
        _PQ_TYPE_BYTE_ARRAY,
        _PQ_TYPE_FIXED,
    ):
        present, _vp = _delta_byte_array(buf, p)
        if len(present) != n_present:
            raise ValueError("delta byte-array value count mismatch")
    elif encoding == _PQ_ENC_BYTE_STREAM_SPLIT:
        # k byte-streams of n bytes each; value i's byte j lives at
        # stream j offset i — transpose back, then decode as PLAIN
        width = {
            _PQ_TYPE_FLOAT: 4,
            _PQ_TYPE_DOUBLE: 8,
            _PQ_TYPE_INT32: 4,
            _PQ_TYPE_INT64: 8,
            _PQ_TYPE_FIXED: tlen,
        }.get(ptype)
        if not width:
            raise ValueError(
                f"byte-stream-split unsupported for type {ptype}"
            )
        nbytes = n_present * width
        if p + nbytes > len(buf):
            raise ValueError("truncated byte-stream-split page")
        planes = np.frombuffer(buf, np.uint8, nbytes, p).reshape(
            width, n_present
        )
        joined = planes.T.copy().tobytes()
        present, _pp = _plain_values(joined, 0, ptype, n_present, tlen)
    else:
        raise ValueError(f"unsupported parquet data encoding {encoding}")
    if defs is None or n_present == n:
        # no nulls in this page: the masking loop below would emit
        # `present` unchanged — skip the per-value python pass
        return present
    out: list = []
    it = iter(present)
    for dlev in defs.tolist():
        out.append(next(it) if dlev == max_def else None)
    return out


def snappy_encode(data: bytes) -> bytes:
    """From-scratch snappy BLOCK-format compressor: varint length
    preamble, then greedy hash-table match finding (the format's
    standard strategy) emitting literals and 1/2-byte-offset copies.
    Output is valid snappy any decoder accepts — cross-read against
    pyarrow's decompressor in tests — and round-trips through
    :func:`snappy_decode`."""
    out = bytearray()
    n = len(data)
    # preamble: uncompressed length varint
    v = n
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            break

    def emit_literal(lo: int, hi: int) -> None:
        ln = hi - lo
        while ln > 0:
            take = min(ln, 1 << 16)  # keep extra-length bytes at <= 2
            m = take - 1
            if m < 60:
                out.append(m << 2)
            elif m < 256:
                out.append(60 << 2)
                out.append(m)
            else:
                out.append(61 << 2)
                out.extend(m.to_bytes(2, "little"))
            out.extend(data[lo : lo + take])
            lo += take
            ln -= take

    def emit_one_copy(off: int, take: int) -> None:
        if 4 <= take <= 11 and off < 2048:
            out.append(((off >> 8) << 5) | ((take - 4) << 2) | 1)
            out.append(off & 0xFF)
        else:
            out.append(((take - 1) << 2) | 2)
            out.extend(off.to_bytes(2, "little"))

    def emit_copy(off: int, ln: int) -> None:
        # split into 4..64-byte copies, never stranding a <4 tail
        while ln > 68:
            emit_one_copy(off, 64)
            ln -= 64
        if ln > 64:  # 65..68: take 60 so the tail stays >= 4
            emit_one_copy(off, 60)
            ln -= 60
        emit_one_copy(off, ln)

    if n < 4:
        if n:
            emit_literal(0, n)
        return bytes(out)

    table: dict[int, int] = {}
    lit_start = 0
    i = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        k = key[0] | (key[1] << 8) | (key[2] << 16) | (key[3] << 24)
        cand = table.get(k)
        table[k] = i
        if (
            cand is not None
            and i - cand <= 65535
            and data[cand : cand + 4] == key
        ):
            # extend the match forward
            m = 4
            while i + m < n and data[cand + m] == data[i + m]:
                m += 1
            if lit_start < i:
                emit_literal(lit_start, i)
            emit_copy(i - cand, m)
            i += m
            lit_start = i
        else:
            i += 1
    if lit_start < n:
        emit_literal(lit_start, n)
    return bytes(out)


class _ThriftCompactWriter:
    """Minimal Thrift compact-protocol writer — the encode twin of
    :class:`_ThriftCompact`, sufficient for parquet FileMetaData."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._last: list[int] = [0]

    def varint(self, v: int) -> None:
        while True:
            b = v & 0x7F
            v >>= 7
            self.buf.append(b | (0x80 if v else 0))
            if not v:
                return

    def zigzag(self, v: int) -> None:
        self.varint((v << 1) ^ (v >> 63))

    def binary(self, payload: bytes) -> None:
        self.varint(len(payload))
        self.buf.extend(payload)

    def field(self, fid: int, ftype: int) -> None:
        delta = fid - self._last[-1]
        if 1 <= delta <= 15:
            self.buf.append((delta << 4) | ftype)
        else:
            self.buf.append(ftype)
            self.zigzag(fid)
        self._last[-1] = fid

    def begin_struct(self) -> None:
        self._last.append(0)

    def end_struct(self) -> None:
        self._last.pop()
        self.buf.append(_TC_STOP)

    def list_header(self, size: int, etype: int) -> None:
        if size < 15:
            self.buf.append((size << 4) | etype)
        else:
            self.buf.append((15 << 4) | etype)
            self.varint(size)

    def i32(self, fid: int, v: int) -> None:
        self.field(fid, _TC_I32)
        self.zigzag(v)

    def i64(self, fid: int, v: int) -> None:
        self.field(fid, _TC_I64)
        self.zigzag(v)

    def string(self, fid: int, v: str) -> None:
        self.field(fid, _TC_BINARY)
        self.binary(v.encode("utf-8"))


_PQ_CONVERTED_UTF8 = 0


def _pq_rle_levels(levels: list[int]) -> bytes:
    """Definition levels as the RLE half of the hybrid (bit width 1):
    one RLE run per value change, 4-byte LE length prefix."""
    body = bytearray()
    i = 0
    n = len(levels)
    while i < n:
        j = i
        while j < n and levels[j] == levels[i]:
            j += 1
        run = j - i
        v = run << 1  # LSB 0 = RLE run
        while True:
            b = v & 0x7F
            v >>= 7
            body.append(b | (0x80 if v else 0))
            if not v:
                break
        body.append(levels[i])
        i = j
    return len(body).to_bytes(4, "little") + bytes(body)


def _pq_plain(values: list, ptype: int) -> bytes:
    out = bytearray()
    if ptype == _PQ_TYPE_INT64:
        for v in values:
            out.extend(struct.pack("<q", v))
    elif ptype == _PQ_TYPE_DOUBLE:
        for v in values:
            out.extend(struct.pack("<d", v))
    elif ptype == _PQ_TYPE_BYTE_ARRAY:
        for v in values:
            out.extend(len(v).to_bytes(4, "little"))
            out.extend(v)
    elif ptype == _PQ_TYPE_BOOLEAN:
        acc = 0
        nbits = 0
        for v in values:
            if v:
                acc |= 1 << nbits
            nbits += 1
            if nbits == 8:
                out.append(acc)
                acc = nbits = 0
        if nbits:
            out.append(acc)
    else:
        raise ValueError(f"writer does not support physical type {ptype}")
    return bytes(out)


def _pq_pack_indices(indices: list[int], width: int) -> bytes:
    """Dictionary-index stream: one width byte, then the BIT-PACKED
    half of the RLE/bit-packed hybrid (header varint = groups-of-8
    count shifted left with LSB 1, values LSB-first) — the layout
    :func:`_decode_indices` and every production reader accept.
    Trailing pad values in the last group are zeros readers ignore."""
    n = len(indices)
    groups = (n + 7) // 8
    header = (groups << 1) | 1
    hdr = bytearray([width])
    v = header
    while True:
        b = v & 0x7F
        v >>= 7
        hdr.append(b | (0x80 if v else 0))
        if not v:
            break
    acc = 0
    nbits = 0
    body = bytearray()
    for idx in list(indices) + [0] * (groups * 8 - n):
        acc |= idx << nbits
        nbits += width
        while nbits >= 8:
            body.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        body.append(acc & 0xFF)
    return bytes(hdr) + bytes(body)


def _pq_stat_bytes(v, ptype: int) -> bytes:
    """min_value/max_value encoding (parquet.thrift Statistics): the
    value's PLAIN little-endian bytes; BYTE_ARRAY stats are the raw
    bytes (unsigned lexicographic — python bytes ordering)."""
    if ptype == _PQ_TYPE_INT64:
        return struct.pack("<q", v)
    if ptype == _PQ_TYPE_DOUBLE:
        return struct.pack("<d", float(v))
    if ptype == _PQ_TYPE_BYTE_ARRAY:
        return v
    if ptype == _PQ_TYPE_BOOLEAN:
        return b"\x01" if v else b"\x00"
    raise ValueError(f"no statistics encoding for type {ptype}")


def decode_parquet_stat(raw: bytes, ptype: int):
    """Decode a min_value/max_value byte payload back to python."""
    if ptype == _PQ_TYPE_INT64:
        return struct.unpack("<q", raw)[0]
    if ptype == _PQ_TYPE_INT32:
        return struct.unpack("<i", raw)[0]
    if ptype == _PQ_TYPE_DOUBLE:
        return struct.unpack("<d", raw)[0]
    if ptype == _PQ_TYPE_FLOAT:
        return struct.unpack("<f", raw)[0]
    if ptype in (_PQ_TYPE_BYTE_ARRAY, _PQ_TYPE_FIXED):
        return raw
    if ptype == _PQ_TYPE_BOOLEAN:
        return raw != b"\x00"
    raise ValueError(f"no statistics decoding for type {ptype}")


def encode_parquet(
    columns: dict[str, list],
    compression: str = "snappy",
    row_group_size: int | None = None,
    use_dictionary: bool = False,
    write_statistics: bool = True,
) -> bytes:
    """A from-scratch parquet WRITER — the encode twin of
    read_parquet_column: PLAIN or dictionary-encoded V1 data pages,
    OPTIONAL columns with RLE definition levels (None = null), snappy
    pages via :func:`snappy_encode`, gzip pages via the from-scratch
    DEFLATE encoder (:func:`gzip_encode`), multiple row groups when
    ``row_group_size`` is set, and a FileMetaData footer emitted by
    the from-scratch Thrift compact writer.

    ``use_dictionary`` writes a PLAIN dictionary page per column
    chunk followed by a bit-packed index data page (the classic
    PLAIN_DICTIONARY v1 profile); all-null, boolean and LIST chunks
    fall back to PLAIN.  Column types are inferred from the first
    non-null value (int -> INT64, float -> DOUBLE, str/bytes ->
    BYTE_ARRAY with the UTF8 converted type, bool -> BOOLEAN).  A
    column whose values are python lists (None / [] / [elem-or-None,
    ...]) is written as the standard 3-level LIST layout —
    optional group (LIST) > repeated group "list" > optional
    "element" — with repetition + definition levels per slot, the
    encode twin of read_parquet_list_column.  A column whose values
    are python dicts (None / {field: value-or-None}) is written as an
    OPTIONAL group of OPTIONAL scalar fields (def 0 = null struct,
    1 = null field, 2 = value), the encode twin of
    read_parquet_struct_column; every non-null row must carry the
    same field set.  ``write_statistics`` emits per-chunk min_value /
    max_value / null_count (parquet.thrift Statistics) for scalar and
    struct-field chunks — the row-group prune input of
    :func:`read_parquet_column_pruned` — skipped for any chunk whose
    values contain NaN (unorderable).  The files are read back by
    pyarrow, DuckDB AND this module's own page reader in tests —
    encoder/decoder twins both ways."""
    if not columns:
        raise ValueError("need at least one column")
    n_rows = len(next(iter(columns.values())))
    codec = {
        "snappy": _PQ_CODEC_SNAPPY,
        "gzip": _PQ_CODEC_GZIP,
        "none": _PQ_CODEC_NONE,
    }[compression]

    def compress(body: bytes) -> bytes:
        if codec == _PQ_CODEC_SNAPPY:
            return snappy_encode(body)
        if codec == _PQ_CODEC_GZIP:
            return gzip_encode(body)
        return body

    def infer(vals: list) -> int:
        for v in vals:
            if v is None:
                continue
            if isinstance(v, bool):
                return _PQ_TYPE_BOOLEAN
            if isinstance(v, int):
                return _PQ_TYPE_INT64
            if isinstance(v, float):
                return _PQ_TYPE_DOUBLE
            if isinstance(v, (str, bytes)):
                return _PQ_TYPE_BYTE_ARRAY
            raise ValueError(f"unsupported python value {type(v)}")
        return _PQ_TYPE_INT64  # all-null column

    names = list(columns)
    for name in names:
        if len(columns[name]) != n_rows:
            raise ValueError("ragged columns")
    is_list = {
        name: any(
            isinstance(v, list) for v in columns[name] if v is not None
        )
        for name in names
    }
    is_struct = {
        name: any(
            isinstance(v, dict) for v in columns[name] if v is not None
        )
        for name in names
    }
    struct_fields: dict[str, list[str]] = {}
    for name in names:
        if not is_struct[name]:
            continue
        if is_list[name]:
            raise ValueError(f"column {name!r} mixes lists and dicts")
        fields: list[str] | None = None
        for v in columns[name]:
            if v is None:
                continue
            if not isinstance(v, dict):
                raise ValueError(
                    f"column {name!r} mixes dicts and scalars"
                )
            if fields is None:
                fields = list(v)
            elif list(v) != fields:
                raise ValueError(
                    f"column {name!r}: inconsistent struct fields"
                )
        if not fields:
            raise ValueError(f"struct column {name!r} has no fields")
        struct_fields[name] = fields

    def _flat_elems(name: str) -> list:
        out = []
        for row in columns[name]:
            if row is None:
                continue
            if not isinstance(row, list):
                raise ValueError(f"column {name!r} mixes lists and scalars")
            out.extend(row)
        return out

    ptypes: dict = {}
    for name in names:
        if is_struct[name]:
            for f in struct_fields[name]:
                ptypes[(name, f)] = infer(
                    [
                        row[f]
                        for row in columns[name]
                        if row is not None
                    ]
                )
        else:
            ptypes[name] = infer(
                _flat_elems(name) if is_list[name] else columns[name]
            )
    rg_size = row_group_size or max(n_rows, 1)
    starts = list(range(0, n_rows, rg_size)) or [0]

    out = bytearray(b"PAR1")
    # per row group: list of per-column chunk dicts for the footer
    row_groups: list[list[dict]] = []
    for lo in starts:
        rows = slice(lo, min(lo + rg_size, n_rows))
        rg_rows = len(range(*rows.indices(n_rows)))
        # physical chunk tasks: (path_parts, ptype, level_bytes,
        # present values, n_slots, dictionary allowed)
        tasks: list[tuple] = []
        for name in names:
            vals = columns[name][rows]
            if is_struct[name]:
                for f in struct_fields[name]:
                    # def 0 = null struct, 1 = null field, 2 = value
                    levels = [
                        0
                        if r is None
                        else (2 if r[f] is not None else 1)
                        for r in vals
                    ]
                    present = [
                        r[f].encode("utf-8")
                        if isinstance(r[f], str)
                        else r[f]
                        for r in vals
                        if r is not None and r[f] is not None
                    ]
                    tasks.append(
                        (
                            [name, f],
                            ptypes[(name, f)],
                            _pq_rle_levels(levels),
                            present,
                            rg_rows,
                            True,
                            2,
                        )
                    )
                continue
            ptype = ptypes[name]
            if is_list[name]:
                # Dremel slots: rep 0 starts a row, rep 1 continues
                # its list; def 0 = null list, 1 = empty list,
                # 2 = null element, 3 = value (col optional > list
                # repeated > element optional)
                reps: list[int] = []
                defs: list[int] = []
                present = []
                for row in vals:
                    if row is not None and not isinstance(row, list):
                        raise ValueError(
                            f"column {name!r} mixes lists and scalars"
                        )
                    if row is None:
                        reps.append(0)
                        defs.append(0)
                    elif not row:
                        reps.append(0)
                        defs.append(1)
                    else:
                        for j, e in enumerate(row):
                            reps.append(1 if j else 0)
                            if e is None:
                                defs.append(2)
                            else:
                                defs.append(3)
                                present.append(
                                    e.encode("utf-8")
                                    if isinstance(e, str)
                                    else e
                                )
                n_slots = len(defs)
                level_bytes = _pq_rle_levels(reps) + _pq_rle_levels(defs)
                tasks.append(
                    (
                        [name, "list", "element"],
                        ptype,
                        level_bytes,
                        present,
                        n_slots,
                        False,
                        3,
                    )
                )
            else:
                levels = [0 if v is None else 1 for v in vals]
                present = [
                    v.encode("utf-8") if isinstance(v, str) else v
                    for v in vals
                    if v is not None
                ]
                tasks.append(
                    (
                        [name],
                        ptype,
                        _pq_rle_levels(levels),
                        present,
                        rg_rows,
                        True,
                        1,
                    )
                )
        chunks: list[dict] = []
        for path_parts, ptype, level_bytes, present, n_slots, allow_dict, max_def in tasks:
            stats = None
            if write_statistics and present:
                try:
                    has_nan = ptype == _PQ_TYPE_DOUBLE and any(
                        v != v for v in present
                    )
                    if not has_nan:
                        stats = {
                            "min": _pq_stat_bytes(min(present), ptype),
                            "max": _pq_stat_bytes(max(present), ptype),
                            "null_count": n_slots - len(present),
                        }
                except ValueError:
                    stats = None
            dict_off = None
            uncomp_total = 0
            offset = len(out)
            if (
                use_dictionary
                and present
                and ptype != _PQ_TYPE_BOOLEAN
                and allow_dict
            ):
                # dictionary page (PLAIN values, first-seen order),
                # then one bit-packed index data page
                order: dict = {}
                indices = [
                    order.setdefault(v, len(order)) for v in present
                ]
                dict_body = _pq_plain(list(order), ptype)
                dict_raw = compress(dict_body)
                w = _ThriftCompactWriter()
                w.begin_struct()
                w.i32(1, _PQ_PAGE_DICT)
                w.i32(2, len(dict_body))
                w.i32(3, len(dict_raw))
                w.field(7, _TC_STRUCT)  # DictionaryPageHeader
                w.begin_struct()
                w.i32(1, len(order))
                w.i32(2, _PQ_ENC_PLAIN_DICT)
                w.end_struct()
                w.end_struct()
                dict_off = len(out)
                out.extend(w.buf)
                out.extend(dict_raw)
                uncomp_total += len(w.buf) + len(dict_body)
                width = max(1, (len(order) - 1).bit_length())
                body = level_bytes + _pq_pack_indices(indices, width)
                data_enc = _PQ_ENC_PLAIN_DICT
            else:
                body = level_bytes + _pq_plain(present, ptype)
                data_enc = _PQ_ENC_PLAIN
            raw = compress(body)
            w = _ThriftCompactWriter()
            w.begin_struct()
            w.i32(1, _PQ_PAGE_DATA)
            w.i32(2, len(body))
            w.i32(3, len(raw))
            w.field(5, _TC_STRUCT)  # DataPageHeader
            w.begin_struct()
            w.i32(1, n_slots)  # num_values counts SLOTS incl. nulls
            w.i32(2, data_enc)
            w.i32(3, _PQ_ENC_RLE)
            w.i32(4, _PQ_ENC_RLE)
            w.end_struct()
            w.end_struct()
            data_off = len(out)
            out.extend(w.buf)
            out.extend(raw)
            uncomp_total += len(w.buf) + len(body)
            chunks.append(
                {
                    "path": path_parts,
                    "ptype": ptype,
                    "rg_rows": rg_rows,
                    "nv": n_slots,
                    "offset": offset,
                    "dict_off": dict_off,
                    "data_off": data_off,
                    "comp": len(out) - offset,
                    "uncomp": uncomp_total,
                    "enc": data_enc,
                    "stats": stats,
                }
            )
        row_groups.append(chunks)

    # footer: FileMetaData
    w = _ThriftCompactWriter()
    w.begin_struct()
    w.i32(1, 1)  # version
    w.field(2, _TC_LIST)  # schema
    n_elements = 1 + sum(
        3
        if is_list[n]
        else (1 + len(struct_fields[n]) if is_struct[n] else 1)
        for n in names
    )
    w.list_header(n_elements, _TC_STRUCT)
    w.begin_struct()  # root
    w.string(4, "schema")
    w.i32(5, len(names))
    w.end_struct()
    for name in names:
        if is_struct[name]:
            # OPTIONAL group of OPTIONAL scalar fields
            w.begin_struct()
            w.i32(3, 1)  # OPTIONAL
            w.string(4, name)
            w.i32(5, len(struct_fields[name]))  # num_children
            w.end_struct()
            for f in struct_fields[name]:
                w.begin_struct()
                w.i32(1, ptypes[(name, f)])
                w.i32(3, 1)  # OPTIONAL
                w.string(4, f)
                if ptypes[(name, f)] == _PQ_TYPE_BYTE_ARRAY:
                    w.i32(6, _PQ_CONVERTED_UTF8)
                w.end_struct()
            continue
        if is_list[name]:
            # standard 3-level LIST: optional group (converted LIST)
            # > repeated group "list" > optional leaf "element"
            w.begin_struct()
            w.i32(3, 1)  # OPTIONAL
            w.string(4, name)
            w.i32(5, 1)  # num_children
            w.i32(6, 3)  # ConvertedType LIST
            w.end_struct()
            w.begin_struct()
            w.i32(3, 2)  # REPEATED
            w.string(4, "list")
            w.i32(5, 1)
            w.end_struct()
            w.begin_struct()
            w.i32(1, ptypes[name])
            w.i32(3, 1)  # OPTIONAL
            w.string(4, "element")
            if ptypes[name] == _PQ_TYPE_BYTE_ARRAY:
                w.i32(6, _PQ_CONVERTED_UTF8)
            w.end_struct()
            continue
        w.begin_struct()
        w.i32(1, ptypes[name])
        w.i32(3, 1)  # OPTIONAL
        w.string(4, name)
        if ptypes[name] == _PQ_TYPE_BYTE_ARRAY:
            w.i32(6, _PQ_CONVERTED_UTF8)
        w.end_struct()
    w.i64(3, n_rows)
    w.field(4, _TC_LIST)  # row_groups
    w.list_header(len(row_groups), _TC_STRUCT)
    for chunks in row_groups:
        w.begin_struct()
        w.field(1, _TC_LIST)  # columns
        w.list_header(len(chunks), _TC_STRUCT)
        total_bytes = 0
        for ck in chunks:
            total_bytes += ck["uncomp"]
            w.begin_struct()  # ColumnChunk
            w.i64(2, ck["offset"])  # file_offset
            w.field(3, _TC_STRUCT)  # meta_data
            w.begin_struct()
            w.i32(1, ck["ptype"])
            w.field(2, _TC_LIST)  # encodings
            encs = [ck["enc"], _PQ_ENC_RLE]
            if ck["enc"] != _PQ_ENC_PLAIN:
                encs.append(_PQ_ENC_PLAIN)  # the dictionary page itself
            w.list_header(len(encs), _TC_I32)
            for e in encs:
                w.zigzag(e)
            w.field(3, _TC_LIST)  # path_in_schema
            w.list_header(len(ck["path"]), _TC_BINARY)
            for part in ck["path"]:
                w.binary(part.encode("utf-8"))
            w.i32(4, codec)
            w.i64(5, ck["nv"])
            w.i64(6, ck["uncomp"])
            w.i64(7, ck["comp"])
            w.i64(9, ck["data_off"])  # data_page_offset
            if ck["dict_off"] is not None:
                w.i64(11, ck["dict_off"])  # dictionary_page_offset
            if ck["stats"] is not None:
                w.field(12, _TC_STRUCT)  # Statistics
                w.begin_struct()
                w.i64(3, ck["stats"]["null_count"])
                w.field(5, _TC_BINARY)  # max_value
                w.binary(ck["stats"]["max"])
                w.field(6, _TC_BINARY)  # min_value
                w.binary(ck["stats"]["min"])
                w.end_struct()
            w.end_struct()
            w.end_struct()
        w.i64(2, total_bytes)
        w.i64(3, chunks[0]["rg_rows"] if chunks else 0)  # ROWS, not slots
        w.end_struct()
    w.string(6, "downloader-spark from-scratch writer")
    # column_orders: TypeDefinedOrder per leaf — without this, readers
    # must ignore min_value/max_value (no defined sort order)
    n_leaves = sum(
        len(struct_fields[n]) if is_struct[n] else 1 for n in names
    )
    w.field(7, _TC_LIST)
    w.list_header(n_leaves, _TC_STRUCT)
    for _ in range(n_leaves):
        w.begin_struct()  # ColumnOrder union
        w.field(1, _TC_STRUCT)  # TYPE_ORDER
        w.begin_struct()  # TypeDefinedOrder (empty)
        w.end_struct()
        w.end_struct()
    w.end_struct()
    out.extend(w.buf)
    out.extend(len(w.buf).to_bytes(4, "little"))
    out.extend(b"PAR1")
    return bytes(out)


# --- ZSTD (RFC 8878), decoder from scratch ------------------------------
#
# The remaining codec crawl/lake data actually ships in: FSE (tANS)
# normalized-count headers and interleaved-state decoding, canonical
# Huffman literals (direct and FSE-compressed weights, 1- and 4-stream),
# LZ sequences with the three-state LL/OF/ML machine, repeat offsets,
# and raw/RLE/compressed blocks with treeless-literals + repeat-table
# modes carried across blocks.  Differentials: pyarrow's real zstd
# compressor (frames decoded back byte-exactly, 300-case fuzz) and
# parquet ZSTD pages checked against pyarrow's own scan.  The
# predefined sequence tables were validated empirically against
# encoder output (single-sequence frames solve cell -> symbol).

_ZSTD_MAGIC = 0xFD2FB528



class _ZstdBits:
    """ZSTD backward bitstream: find the 1-marker in the last byte,
    then read bit groups moving toward the first byte.  Reads past the
    start return zero bits (the reference decoder's padding behavior);
    `remaining` may go negative to signal exhaustion.

    Bits are consumed from the highest bit index downward, so the
    reader keeps a small accumulator holding the bits between the
    consumption point and the lowest byte loaded so far, prepending
    one byte at a time — O(1) amortized per read (a whole-stream
    big-int shift would be O(stream) per read, quadratic on 128 KiB
    blocks)."""

    def __init__(self, data: bytes) -> None:
        if not data or data[-1] == 0:
            raise ValueError("corrupt zstd bitstream")
        self.data = data
        marker = data[-1].bit_length() - 1  # position of the 1 marker
        self.remaining = 8 * (len(data) - 1) + marker
        self.acc = data[-1] & ((1 << marker) - 1)  # bits below the marker
        self.acc_bits = marker
        self.low_byte = len(data) - 1  # next byte to prepend (moving down)

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        while self.acc_bits < nbits:
            self.low_byte -= 1
            b = self.data[self.low_byte] if self.low_byte >= 0 else 0
            self.acc = (self.acc << 8) | b
            self.acc_bits += 8
        self.remaining -= nbits
        self.acc_bits -= nbits
        v = self.acc >> self.acc_bits
        self.acc &= (1 << self.acc_bits) - 1
        if self.remaining < 0:
            # zero-padded overrun: mask off the bits below the start
            shortfall = -self.remaining
            if shortfall >= nbits:
                return 0
            v &= -1 << shortfall  # low `shortfall` bits are padding zeros
        return v

    def peek(self, nbits: int) -> int:
        """Top nbits without consuming (zero-padded past the start)."""
        while self.acc_bits < nbits:
            self.low_byte -= 1
            b = self.data[self.low_byte] if self.low_byte >= 0 else 0
            self.acc = (self.acc << 8) | b
            self.acc_bits += 8
        v = self.acc >> (self.acc_bits - nbits)
        pad = nbits - self.remaining
        if pad > 0:
            v &= -1 << pad if pad < nbits else 0
        return v

    def skip(self, nbits: int) -> None:
        while self.acc_bits < nbits:
            self.low_byte -= 1
            b = self.data[self.low_byte] if self.low_byte >= 0 else 0
            self.acc = (self.acc << 8) | b
            self.acc_bits += 8
        self.acc_bits -= nbits
        self.acc &= (1 << self.acc_bits) - 1
        self.remaining -= nbits


def _zstd_fse_ncount(data: bytes, pos: int, max_symbol: int, max_acc: int):
    """FSE normalized counts (forward little-endian bitstream).
    Returns (norm, accuracy_log, new_byte_pos)."""
    bitpos = pos * 8

    def take(nbits: int) -> int:
        nonlocal bitpos
        byte0 = bitpos >> 3
        chunk = data[byte0 : byte0 + ((bitpos & 7) + nbits + 7) // 8]
        if len(chunk) * 8 < (bitpos & 7) + nbits:
            raise ValueError("truncated FSE ncount")
        v = (int.from_bytes(chunk, "little") >> (bitpos & 7)) & (
            (1 << nbits) - 1
        )
        bitpos += nbits
        return v

    def peek(nbits: int) -> int:
        nonlocal bitpos
        save = bitpos
        try:
            v = take(nbits)
        except ValueError:
            # near the end: the stream is forward little-endian, so
            # missing trailing bytes are zero HIGH bits — the short
            # read already sits in the low bits
            bitpos = save
            avail = max(0, len(data) * 8 - bitpos)
            v = take(avail) if avail else 0
            bitpos = save
            return v
        bitpos = save
        return v

    acc = take(4) + 5
    if acc > max_acc:
        raise ValueError("FSE accuracy log too large")
    remaining = (1 << acc) + 1
    threshold = 1 << acc
    nbits = acc + 1
    norm: list[int] = []
    prev_zero = False
    while remaining > 1 and len(norm) <= max_symbol:
        if prev_zero:
            rep = take(2)
            norm.extend([0] * rep)
            if rep == 3:
                continue
            prev_zero = False
            continue
        val = peek(nbits)
        low = val & (threshold - 1)
        mx = 2 * threshold - 1 - remaining
        if low < mx:
            bitpos += nbits - 1
            count = low
        else:
            bitpos += nbits
            count = val & (2 * threshold - 1)
            if count >= threshold:
                count -= mx
        count -= 1  # extra accuracy: transmitted value is proba+1
        remaining -= -count if count < 0 else count
        norm.append(count)
        prev_zero = count == 0
        while remaining < threshold:
            nbits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("corrupt FSE ncount (remaining != 1)")
    return norm, acc, (bitpos + 7) // 8


def _zstd_fse_build(norm: list[int], acc: int):
    """FSE decoding table: per state (symbol, nbits, new_state_base).
    Low-probability (-1) symbols get one cell each, assigned from the
    table end retreating in symbol order (verified against real
    encoder output for both stream-defined and predefined tables)."""
    size = 1 << acc
    sym_of = [0] * size
    high = size - 1
    for s, n in enumerate(norm):
        if n == -1:
            sym_of[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, n in enumerate(norm):
        for _ in range(max(n, 0)):
            sym_of[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("FSE spread error")
    nxt = [n if n > 0 else 1 for n in norm]
    table = []
    for state in range(size):
        s = sym_of[state]
        c = nxt[s]
        nxt[s] = c + 1
        bits = acc - (c.bit_length() - 1)
        table.append((s, bits, (c << bits) - size))
    return table


def _zstd_fse_pair(table, acc: int, data: bytes, max_out: int):
    """Two interleaved FSE states over one backward stream — the
    huffman-weights encoding.  Returns the decoded symbol list."""
    br = _ZstdBits(data)
    s1 = br.read(acc)
    s2 = br.read(acc)
    out: list[int] = []
    while len(out) < max_out:
        sym, bits, base = table[s1]
        out.append(sym)
        if br.remaining < bits:
            out.append(table[s2][0])
            break
        s1 = base + br.read(bits)
        sym, bits, base = table[s2]
        out.append(sym)
        if br.remaining < bits:
            out.append(table[s1][0])
            break
        s2 = base + br.read(bits)
    return out


def _zstd_huf_build(weights: list[int]):
    """Canonical zstd Huffman decoding table from explicit weights
    (the implied last weight already appended).  Returns
    (table, max_bits) with table[cell] = (symbol, nbits)."""
    total = sum((1 << (w - 1)) for w in weights if w)
    if total == 0:
        raise ValueError("empty huffman table")
    full = 1 << total.bit_length() if total & (total - 1) else total
    if full < total:
        full <<= 1
    max_bits = full.bit_length() - 1
    table = [None] * full
    pos = 0
    for w in range(1, max_bits + 1):
        span = 1 << (w - 1)
        for sym, ww in enumerate(weights):
            if ww == w:
                nbits = max_bits + 1 - w
                for _ in range(span):
                    table[pos] = (sym, nbits)
                    pos += 1
    if pos != full:
        raise ValueError("huffman weights do not fill the table")
    return table, max_bits


def _zstd_huf_table(data: bytes, pos: int):
    """Huffman tree description: returns (table, max_bits, new_pos)."""
    hdr = data[pos]
    pos += 1
    if hdr >= 128:  # direct: 4-bit weights
        n = hdr - 127
        weights = []
        for i in range(n):
            b = data[pos + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        pos += (n + 1) // 2
    else:  # FSE-compressed weights
        comp = data[pos : pos + hdr]
        pos += hdr
        norm, acc, p2 = _zstd_fse_ncount(comp, 0, 255, 6)
        table = _zstd_fse_build(norm, acc)
        weights = _zstd_fse_pair(table, acc, comp[p2:], 254)
    # implied last weight
    total = sum((1 << (w - 1)) for w in weights if w)
    full = 1 << total.bit_length()
    rest = full - total
    if rest & (rest - 1):
        raise ValueError("corrupt huffman weights")
    weights.append(rest.bit_length())
    tbl, max_bits = _zstd_huf_build(weights)
    return tbl, max_bits, pos


def _zstd_huf_stream(table, max_bits: int, data: bytes, n_out: int) -> bytes:
    br = _ZstdBits(data)
    out = bytearray()
    while len(out) < n_out:
        if br.remaining <= 0:
            raise ValueError("huffman stream exhausted early")
        idx = br.peek(max_bits)
        sym, nbits = table[idx]
        br.skip(nbits)
        out.append(sym)
    return bytes(out)


# --- sequences ---------------------------------------------------------

_ZSTD_LL_DEFAULT = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
               2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
               -1, -1, -1, -1]
_ZSTD_ML_DEFAULT = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
               -1, -1, -1, -1, -1]
_ZSTD_OF_DEFAULT = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1]

_ZSTD_LL_BASE = list(range(16)) + [16, 18, 20, 22, 24, 28, 32, 40, 48, 64,
                              128, 256, 512, 1024, 2048, 4096, 8192,
                              16384, 32768, 65536]
_ZSTD_LL_BITS = [0] * 16 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11,
                       12, 13, 14, 15, 16]
_ZSTD_ML_BASE = list(range(3, 35)) + [35, 37, 39, 41, 43, 47, 51, 59, 67,
                                 83, 99, 131, 259, 515, 1027, 2051,
                                 4099, 8195, 16387, 32771, 65539]
_ZSTD_ML_BITS = [0] * 32 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10,
                       11, 12, 13, 14, 15, 16]


def _zstd_seq_table(data: bytes, pos: int, mode: int, default, max_acc: int,
               prev):
    """One of the three sequence-code tables, per its 2-bit mode.
    Returns ((table, acc) or ('rle', symbol), new_pos, cache_value)."""
    if mode == 0:  # predefined
        acc = {36: 6, 53: 6, 29: 5}[len(default)]
        t = (_zstd_fse_build(default, acc), acc)
        return t, pos, t
    if mode == 1:  # RLE: one byte
        t = ("rle", data[pos])
        return t, pos + 1, t
    if mode == 2:  # FSE-compressed
        norm, acc, pos = _zstd_fse_ncount(data, pos, len(default) - 1,
                                          max_acc)
        t = (_zstd_fse_build(norm, acc), acc)
        return t, pos, t
    if prev is None:
        raise ValueError("repeat sequence table with no previous table")
    return prev, pos, prev


def zstd_frame_decode(data: bytes, pos: int = 0):
    """Decode one zstd frame starting at pos; returns (bytes, new_pos)."""
    import struct

    if len(data) < pos + 4:
        raise ValueError("truncated zstd frame")
    magic = struct.unpack_from("<I", data, pos)[0]
    if (magic & 0xFFFFFFF0) == 0x184D2A50:  # skippable frame
        size = struct.unpack_from("<I", data, pos + 4)[0]
        return b"", pos + 8 + size
    if magic != _ZSTD_MAGIC:
        raise ValueError("bad zstd magic")
    pos += 4
    fhd = data[pos]
    pos += 1
    fcs_flag = fhd >> 6
    single_segment = (fhd >> 5) & 1
    checksum = (fhd >> 2) & 1
    did_flag = fhd & 3
    if not single_segment:
        pos += 1  # window descriptor
    pos += (0, 1, 2, 4)[did_flag]
    fcs_len = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
    pos += fcs_len

    out = bytearray()
    reps = [1, 4, 8]
    huf_cache = None  # (table, max_bits) carried across blocks
    prev_ll = prev_of = prev_ml = None
    while True:
        if pos + 3 > len(data):
            raise ValueError("truncated zstd block header")
        bh = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if btype == 0:  # raw
            if pos + bsize > len(data):
                raise ValueError("truncated zstd raw block")
            out += data[pos : pos + bsize]
            pos += bsize
        elif btype == 1:  # RLE
            if pos >= len(data):
                raise ValueError("truncated zstd RLE block")
            out += data[pos : pos + 1] * bsize
            pos += 1
        elif btype == 2:  # compressed
            if pos + bsize > len(data):
                raise ValueError("truncated zstd compressed block")
            block = data[pos : pos + bsize]
            pos += bsize
            (huf_cache, prev_ll, prev_of, prev_ml) = _zstd_block(
                block, out, reps, huf_cache, prev_ll, prev_of, prev_ml
            )
        else:
            raise ValueError("reserved zstd block type")
        if last:
            break
    if checksum:
        pos += 4
    return bytes(out), pos


def _zstd_block(block, out, reps, huf_cache, prev_ll, prev_of, prev_ml):
    # --- literals section ---
    b0 = block[0]
    ltype = b0 & 3
    sformat = (b0 >> 2) & 3
    p = 0
    if ltype in (0, 1):  # raw / RLE literals
        if sformat in (0, 2):  # 00 or 10: 5-bit size
            regen = b0 >> 3
            p = 1
        elif sformat == 1:
            regen = (b0 >> 4) | (block[1] << 4)
            p = 2
        else:
            regen = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            p = 3
        if ltype == 0:
            literals = bytes(block[p : p + regen])
            p += regen
        else:
            literals = block[p : p + 1] * regen
            p += 1
    else:  # compressed / treeless
        if sformat == 0:
            streams = 1
            h = int.from_bytes(block[0:3], "little")
            regen = (h >> 4) & 0x3FF
            comp = (h >> 14) & 0x3FF
            p = 3
        elif sformat == 1:
            streams = 4
            h = int.from_bytes(block[0:3], "little")
            regen = (h >> 4) & 0x3FF
            comp = (h >> 14) & 0x3FF
            p = 3
        elif sformat == 2:
            streams = 4
            h = int.from_bytes(block[0:4], "little")
            regen = (h >> 4) & 0x3FFF
            comp = (h >> 18) & 0x3FFF
            p = 4
        else:
            streams = 4
            h = int.from_bytes(block[0:5], "little")
            regen = (h >> 4) & 0x3FFFF
            comp = (h >> 22) & 0x3FFFF
            p = 5
        section = block[p : p + comp]
        p += comp
        q = 0
        if ltype == 2:  # new table
            table, max_bits, q = _zstd_huf_table(section, 0)
            huf_cache = (table, max_bits)
        else:
            if huf_cache is None:
                raise ValueError("treeless literals with no prior table")
            table, max_bits = huf_cache
        if streams == 1:
            literals = _zstd_huf_stream(table, max_bits, section[q:], regen)
        else:
            j1 = int.from_bytes(section[q : q + 2], "little")
            j2 = int.from_bytes(section[q + 2 : q + 4], "little")
            j3 = int.from_bytes(section[q + 4 : q + 6], "little")
            q += 6
            s1 = section[q : q + j1]
            s2 = section[q + j1 : q + j1 + j2]
            s3 = section[q + j1 + j2 : q + j1 + j2 + j3]
            s4 = section[q + j1 + j2 + j3 :]
            n123 = (regen + 3) // 4
            literals = b"".join(
                _zstd_huf_stream(table, max_bits, s,
                                   n123 if i < 3 else regen - 3 * n123)
                for i, s in enumerate((s1, s2, s3, s4))
            )

    # --- sequences section ---
    b = block[p]
    p += 1
    if b == 0:
        out += literals
        return huf_cache, prev_ll, prev_of, prev_ml
    if b < 128:
        nseq = b
    elif b < 255:
        nseq = ((b - 128) << 8) | block[p]
        p += 1
    else:
        nseq = int.from_bytes(block[p : p + 2], "little") + 0x7F00
        p += 2
    modes = block[p]
    p += 1
    ll_t, p, prev_ll = _zstd_seq_table(block, p, (modes >> 6) & 3, _ZSTD_LL_DEFAULT,
                                  9, prev_ll)
    of_t, p, prev_of = _zstd_seq_table(block, p, (modes >> 4) & 3, _ZSTD_OF_DEFAULT,
                                  8, prev_of)
    ml_t, p, prev_ml = _zstd_seq_table(block, p, (modes >> 2) & 3, _ZSTD_ML_DEFAULT,
                                  9, prev_ml)

    br = _ZstdBits(block[p:])

    def init_state(t):
        if t[0] == "rle":
            return None
        return br.read(t[1])

    s_ll = init_state(ll_t)
    s_of = init_state(of_t)
    s_ml = init_state(ml_t)

    def code_of(t, state):
        if t[0] == "rle":
            return t[1]
        return t[0][state][0]

    lit_pos = 0
    for i in range(nseq):
        of_code = code_of(of_t, s_of)
        ml_code = code_of(ml_t, s_ml)
        ll_code = code_of(ll_t, s_ll)
        # extra bits: offset, then match, then literals
        off_val = (1 << of_code) + br.read(of_code)
        ml = _ZSTD_ML_BASE[ml_code] + br.read(_ZSTD_ML_BITS[ml_code])
        ll = _ZSTD_LL_BASE[ll_code] + br.read(_ZSTD_LL_BITS[ll_code])
        # repeat-offset resolution
        if off_val > 3:
            offset = off_val - 3
            reps[2] = reps[1]
            reps[1] = reps[0]
            reps[0] = offset
        else:
            idx = off_val - 1 if ll != 0 else off_val
            if idx == 0:
                offset = reps[0]
            elif idx == 1:
                offset = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            elif idx == 2:
                offset = reps[2]
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            else:  # idx == 3: rep0 - 1 (ll == 0, off_val == 3)
                offset = reps[0] - 1
                if offset == 0:
                    raise ValueError("zstd repeat offset underflow")
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
        # execute
        out += literals[lit_pos : lit_pos + ll]
        lit_pos += ll
        if offset > len(out):
            raise ValueError("zstd match offset beyond window")
        m = ml
        while m > 0:
            take = min(m, offset)
            out += out[len(out) - offset : len(out) - offset + take]
            m -= take
        # state updates (not after the last sequence): LL, ML, OF
        if i + 1 < nseq:
            if ll_t[0] != "rle":
                _s, bits, base = ll_t[0][s_ll]
                s_ll = base + br.read(bits)
            if ml_t[0] != "rle":
                _s, bits, base = ml_t[0][s_ml]
                s_ml = base + br.read(bits)
            if of_t[0] != "rle":
                _s, bits, base = of_t[0][s_of]
                s_of = base + br.read(bits)
    out += literals[lit_pos:]
    return huf_cache, prev_ll, prev_of, prev_ml


def zstd_encode_store(data: bytes, block_size: int = 1 << 17) -> bytes:
    """Valid ZSTD framing without entropy coding: raw blocks (RLE
    blocks for single-byte runs), single-segment header with exact
    frame content size — the store mode every decoder must accept,
    cross-checked against pyarrow's decompressor in tests.  The
    DECODER above is the from-scratch contribution; this writer
    exists so archives can round-trip through our own framing."""
    out = bytearray()
    out += _ZSTD_MAGIC.to_bytes(4, "little")
    n = len(data)
    # frame header: single-segment, FCS size by magnitude
    if n < 256:
        out.append(0x20)  # fcs_flag=0 + single_segment: 1-byte FCS
        out.append(n)
    elif n < 65536 + 256:
        out.append(0x60)  # fcs_flag=1: 2-byte FCS, value+256
        out += (n - 256).to_bytes(2, "little")
    else:
        out.append(0xA0)  # fcs_flag=2: 4-byte FCS
        out += n.to_bytes(4, "little")
    pos = 0
    while True:
        chunk = data[pos : pos + block_size]
        pos += len(chunk)
        last = 1 if pos >= n else 0
        if chunk and chunk.count(chunk[0]) == len(chunk):
            out += ((len(chunk) << 3) | (1 << 1) | last).to_bytes(3, "little")
            out.append(chunk[0])
        else:
            out += ((len(chunk) << 3) | (0 << 1) | last).to_bytes(3, "little")
            out += chunk
        if last:
            break
    return bytes(out)


def zstd_decode(data: bytes) -> bytes:
    """Decode a (possibly multi-frame) zstd payload.  All parse
    failures — including bare out-of-bounds reads on truncated input —
    surface as ValueError, the loud-failure contract `_pq_decompress`
    and the pipeline stages rely on."""
    out = bytearray()
    pos = 0
    try:
        while pos < len(data):
            chunk, pos = zstd_frame_decode(data, pos)
            out += chunk
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated zstd stream: {e}") from e
    return bytes(out)


# --- DEFLATE encoder (RFC 1951), from scratch ---------------------------
#
# The encode twin of `inflate`: stored blocks and fixed-Huffman blocks
# with greedy hash-chain LZ77 matching (lengths 3..258, distances to
# 32 KiB).  Output is valid DEFLATE any inflater accepts — verified
# against stdlib zlib both directions in tests.  The hot ingest paths
# keep zlib's C compressor; this exists so the gzip/zlib family is
# from-scratch in BOTH directions like the other codec families.

_DEFLATE_LEN_BASE = [3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23,
                     27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163,
                     195, 227, 258]
_DEFLATE_LEN_XBITS = [0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
                      3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0]
_DEFLATE_DIST_BASE = [1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97,
                      129, 193, 257, 385, 513, 769, 1025, 1537, 2049,
                      3073, 4097, 6145, 8193, 12289, 16385, 24577]
_DEFLATE_DIST_XBITS = [0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
                       7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13]


class _DeflateBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value: int, nbits: int) -> None:
        """LSB-first bit packing (RFC 1951 data-element order)."""
        self.acc |= value << self.n
        self.n += nbits
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def huff(self, code: int, nbits: int) -> None:
        """Huffman codes go MSB-first: reverse the bits."""
        rev = 0
        for _ in range(nbits):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.bits(rev, nbits)

    def finish(self) -> bytes:
        if self.n:
            self.buf.append(self.acc & 0xFF)
        return bytes(self.buf)


def _fixed_litlen_code(sym: int) -> tuple[int, int]:
    """RFC 1951 §3.2.6 fixed literal/length code."""
    if sym <= 143:
        return 0x30 + sym, 8
    if sym <= 255:
        return 0x190 + sym - 144, 9
    if sym <= 279:
        return sym - 256, 7
    return 0xC0 + sym - 280, 8


def _code_of(value: int, bases: list[int]) -> int:
    lo, hi = 0, len(bases) - 1
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if bases[mid] <= value:
            lo = mid
        else:
            hi = mid - 1
    return lo


def deflate_encode(data: bytes, fixed: bool = True) -> bytes:
    """Compress into ONE DEFLATE block: fixed-Huffman (default) with
    greedy hash-chain LZ77, or a chain of stored blocks."""
    if not fixed:
        out = bytearray()
        pos = 0
        while True:
            chunk = data[pos : pos + 65535]
            pos += len(chunk)
            last = 1 if pos >= len(data) else 0
            out.append(last)  # BTYPE=00, bit-aligned per block start
            out += len(chunk).to_bytes(2, "little")
            out += (0xFFFF ^ len(chunk)).to_bytes(2, "little")
            out += chunk
            if last:
                return bytes(out)
    bw = _DeflateBitWriter()
    bw.bits(1, 1)  # BFINAL
    bw.bits(1, 2)  # BTYPE=01 fixed
    n = len(data)
    table: dict[bytes, int] = {}
    i = 0
    while i < n:
        match_len = 0
        match_dist = 0
        if i + 3 <= n:
            key = data[i : i + 3]
            cand = table.get(key)
            table[key] = i
            if cand is not None and i - cand <= 32768:
                m = 3
                limit = min(258, n - i)
                while m < limit and data[cand + m] == data[i + m]:
                    m += 1
                match_len, match_dist = m, i - cand
        if match_len >= 3:
            lc = _code_of(match_len, _DEFLATE_LEN_BASE)
            code, nb = _fixed_litlen_code(257 + lc)
            bw.huff(code, nb)
            bw.bits(match_len - _DEFLATE_LEN_BASE[lc], _DEFLATE_LEN_XBITS[lc])
            dc = _code_of(match_dist, _DEFLATE_DIST_BASE)
            bw.huff(dc, 5)
            bw.bits(
                match_dist - _DEFLATE_DIST_BASE[dc], _DEFLATE_DIST_XBITS[dc]
            )
            i += match_len
        else:
            code, nb = _fixed_litlen_code(data[i])
            bw.huff(code, nb)
            i += 1
    code, nb = _fixed_litlen_code(256)  # end of block
    bw.huff(code, nb)
    return bw.finish()


def gzip_encode(data: bytes, fixed: bool = True) -> bytes:
    """A gzip (RFC 1952) member from scratch: the 10-byte header
    (deflate method, no flags, zero mtime, unknown OS), the
    from-scratch DEFLATE body (:func:`deflate_encode`), then the
    from-scratch CRC-32 (:func:`crc32`) and ISIZE trailer.  The
    encode twin of :func:`gzip_members_decode`; accepted by stdlib
    gzip/zlib, pyarrow, and DuckDB (used for GZIP parquet pages)."""
    out = bytearray(b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff")
    out += deflate_encode(data, fixed=fixed)
    out += crc32(data).to_bytes(4, "little")
    out += (len(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)
