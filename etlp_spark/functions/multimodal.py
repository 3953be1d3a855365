"""Multimodal column plumbing: images/audio/video as opaque binary.

Decode support is tiered by what this container can honestly do:

- **Uncompressed 24-bpp BMP decodes for real** — a stdlib-only
  (``struct`` + numpy) parser below, so the feature/resize kernels
  exercise real pixel math end-to-end with zero codec dependencies.
- **PCM WAV decodes for real too** (RIFF chunk walk, 16-bit PCM):
  audio features (RMS, zero-crossing rate, peak) and frame/segment
  sampling run on actual samples.
- **PNG decodes for real as well** (round 5): PNG's only compression
  is DEFLATE, which stdlib ``zlib`` provides — the decoder below
  walks chunks, inflates IDAT, and un-filters scanlines (all five
  filter types: None/Sub/Up/Average/Paeth) for 8-bit gray/RGB/RGBA,
  non-interlaced. ``encode_png`` is the lossless inverse.
- **Baseline JPEG decodes for real** (round 6): sequential DCT JPEG
  is Huffman tables + dequant + IDCT + YCbCr→RGB — all expressible
  in stdlib ``struct`` + numpy (the 8×8 DCT is one orthonormal
  matrix sandwich). The decoder below handles gray and color,
  4:4:4 / 4:2:2 / 4:2:0 chroma subsampling, and restart markers;
  progressive (SOF2) and arithmetic-coded variants raise ValueError.
  ``encode_jpeg`` is the lossy inverse (quality-scaled Annex-K
  tables) used to build test fixtures and real resize output.
- **MP3 METADATA extracts for real** (round 11): MPEG audio frame
  headers carry everything needed for frame count, duration,
  bitrate profile and byte accounting (``mp3_metadata`` /
  ``extract_mp3_metadata`` walk them, skipping ID3v1/v2 tags) — the
  metadata half a crawl pipeline needs natively; PCM decode still
  requires a registered codec.
- Formats whose decode is not practical stdlib-side (MP3 PCM,
  non-MJPEG video) are STUBBED with deterministic fakes — but behind
  the ``IMAGE_DECODERS`` / ``AUDIO_DECODERS`` / ``VIDEO_DECODERS``
  registries (the ``FORMAT_REDUCERS`` shape): register a
  torchvision/ffmpeg-backed callable for a mime type and every
  kernel in this module uses it, no edits here.

Everything Spark-side is real and tested either way — schema
contracts, Arrow batch shape, ``mapInPandas`` partitioning behavior,
metadata propagation.

Scale design: binary payloads ride in parquet as ``binary`` columns
with typed metadata structs alongside. Feature extraction is
embarrassingly parallel → ``mapInPandas`` with Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak memory
per batch: payload_bytes × batch_rows must fit the executor). No
shuffle is introduced: the UDF runs in the scan stage. The metadata
extractors (``extract_*_metadata``, ``extract_id3_tags``) are one
byte-walk each through ``functions._payload.per_payload``; each
forwards ``attach`` (value -> payloads), so a payload producer runs in
the same Python pass as the walk.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from etlp_spark.functions._payload import per_payload

__all__ = [
    "MEDIA_SCHEMA",
    "FEATURE_SCHEMA",
    "FRAME_SCHEMA",
    "attach_fake_media",
    "extract_features",
    "resize_media",
    "sample_frames",
    "decode_image",
    "decode_bmp",
    "encode_bmp",
    "decode_png",
    "encode_png",
    "decode_jpeg",
    "encode_jpeg",
    "decode_gif",
    "decode_gif_frames",
    "encode_gif",
    "encode_jpeg_progressive",
    "decode_wav",
    "encode_wav",
    "mp3_metadata",
    "encode_mp3_frames",
    "extract_mp3_metadata",
    "id3_tags",
    "id3v1_tags",
    "encode_id3v2",
    "encode_id3v1",
    "extract_id3_tags",
    "mp4_metadata",
    "encode_mp4_boxes",
    "extract_mp4_metadata",
    "decode_avi_mjpeg",
    "encode_avi_mjpeg",
    "IMAGE_DECODERS",
    "AUDIO_DECODERS",
    "VIDEO_DECODERS",
]

#: contract for a multimodal row: payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", IntegerType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("digest", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bpp
    bottom-up BMP (BITMAPINFOHEADER). Stdlib-only; the inverse of
    ``decode_bmp`` (lossless round-trip)."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError("encode_bmp wants (h, w, 3) RGB")
    pad = (-(w * 3)) % 4
    row_bytes = w * 3 + pad
    img_size = row_bytes * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 0, 0, 0, 0)
    # bottom-up rows, BGR order, each padded to a 4-byte boundary
    bgr = pixels[::-1, :, ::-1]
    if pad:
        rows = np.zeros((h, row_bytes), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    return header + info + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bpp BMP to an (h, w, 3) uint8 RGB
    array. Stdlib ``struct`` + numpy only — no codec libraries.

    Supports the common BITMAPINFOHEADER layout (positive height =
    bottom-up). Raises ValueError on anything else (compressed,
    paletted, other bit depths) so callers can fall back."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (_, _, _, _, data_off) = struct.unpack_from("<2sIHHI", payload, 0)
    (hdr_size, w, h, planes, bpp, compression) = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant (need 24-bpp BI_RGB)")
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    need = data_off + row_bytes * h
    if len(payload) < need:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h, offset=data_off)
    rows = rows.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an (h, w) grayscale, (h, w, 3) RGB, or (h, w, 4) RGBA
    uint8 array as a non-interlaced 8-bit PNG (filter 0 scanlines,
    stdlib ``zlib`` DEFLATE). Lossless inverse of ``decode_png``."""
    if pixels.dtype != np.uint8:
        raise ValueError(
            f"encode_png wants uint8 pixels, got {pixels.dtype} — a wider "
            "dtype would silently emit multi-byte samples and corrupt the "
            "stream; cast explicitly"
        )
    if pixels.ndim == 2:
        color_type, channels = 0, 1
        flat = pixels[:, :, None]
    elif pixels.ndim == 3 and pixels.shape[2] == 3:
        color_type, channels = 2, 3
        flat = pixels
    elif pixels.ndim == 3 and pixels.shape[2] == 4:
        color_type, channels = 6, 4
        flat = pixels
    else:
        raise ValueError("encode_png wants (h,w), (h,w,3) or (h,w,4) uint8")
    h, w = flat.shape[:2]
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8),  # filter byte 0 per scanline
         flat.reshape(h, w * channels)], axis=1
    ).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced grayscale/RGB/RGBA PNG to an
    (h, w, 3) uint8 RGB array (gray broadcast to 3 channels, alpha
    dropped). Stdlib ``zlib`` + numpy only — PNG's DEFLATE needs no
    external codec, unlike JPEG's DCT entropy coding.

    Handles all five scanline filters (None/Sub/Up/Average/Paeth).
    Raises ValueError on interlaced, paletted, or 16-bit variants so
    callers can fall back."""
    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, w = len(_PNG_SIG), None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (size,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            try:
                w, h, depth, color_type, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", body
                )
            except struct.error as exc:
                # keep the documented contract: truncated payloads are
                # ValueError so callers can fall back
                raise ValueError("truncated PNG IHDR chunk") from exc
            if depth != 8 or color_type not in (0, 2, 6) or interlace != 0:
                raise ValueError(
                    "unsupported PNG variant (need 8-bit gray/RGB/RGBA, "
                    "non-interlaced)"
                )
            channels = {0: 1, 2: 3, 6: 4}[color_type]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + size  # len + type + body + crc
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # truncated/corrupt deflate stream must keep the documented
        # ValueError fallback contract, not escape as zlib.error
        raise ValueError(f"corrupt PNG deflate stream: {e}") from None
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up — vectorized (no intra-row dependency)
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth — sequential in x
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                if ftype == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (line[x] + (a + b) // 2) & 0xFF
                else:
                    cur[x] = (line[x] + _paeth(int(a), int(b), int(c))) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    return px[:, :, :3].copy()  # RGBA → drop alpha


# ---------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 sequential DCT) — stdlib struct + numpy.
# Public-spec constants: Annex K quantization tables and the "typical"
# Huffman tables every mainstream encoder ships. The decoder never
# depends on these (every JPEG carries its own DQT/DHT); they exist for
# encode_jpeg.
# ---------------------------------------------------------------------

_ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# (BITS[1..16], HUFFVAL) per T.81 Annex K.3 "typical" tables
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8×8 DCT-II matrix C: ``C @ block @ C.T`` equals
    T.81's FDCT (the s(u)s(v) products reproduce the spec's
    (1/4)·C(u)·C(v) scaling exactly), and ``C.T @ coefs @ C`` is the
    IDCT."""
    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0] = np.sqrt(1.0 / 8.0)
    return c


_DCT = _dct_matrix()


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment per T.81 C.2: symbol → (code,
    length). Shared by the encoder (writing) and decoder (inverted)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def pad(self) -> None:
        if self._n:
            self.write(0x7F, 8 - self._n)  # pad with 1s to a byte

    def marker(self, byte2: int) -> None:
        """Emit a raw marker into the entropy stream (byte-aligned,
        never stuffed) — used for RSTn."""
        self.pad()
        self.buf += bytes([0xFF, byte2])

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.buf)


def _mag_bits(v: int) -> tuple[int, int]:
    """(size category, amplitude bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, v if v >= 0 else v + (1 << s) - 1


def _encode_block(
    w: _BitWriter,
    coefs: np.ndarray,
    prev_dc: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    zz = coefs.reshape(64)[_ZIGZAG]
    s, bits = _mag_bits(int(zz[0]) - prev_dc)
    w.write(*dc_codes[s])
    if s:
        w.write(bits, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            w.write(*ac_codes[0xF0])  # ZRL
            run -= 16
        s, bits = _mag_bits(v)
        w.write(*ac_codes[(run << 4) | s])
        w.write(bits, s)
        run = 0
    if run:
        w.write(*ac_codes[0x00])  # EOB
    return int(zz[0])


def _component_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """FDCT + quantize a component plane (already padded to 8×8
    multiples): returns (by, bx, 8, 8) int coefficient blocks. The
    whole plane transforms in ONE einsum — no per-block Python loop
    in the transform itself."""
    h, w = plane.shape
    blocks = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3) - 128.0
    coefs = np.einsum("ux,byxz,vz->byuv", _DCT, blocks, _DCT)
    return np.round(coefs / q).astype(np.int64)


def _pad_to8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge")


def _jpeg_plan(
    pixels: np.ndarray, quality: int, subsampling: str
) -> tuple[int, int, list[np.ndarray], list[tuple[int, int]], np.ndarray, np.ndarray, bool]:
    """Shared front half of both JPEG encoders: validate, color
    convert, subsample, pad, FDCT + quantize. Returns (h, w,
    per-component (by, bx, 8, 8) quantized coefficient blocks,
    sampling factors, scaled luma/chroma quant tables, gray flag)."""
    if pixels.dtype != np.uint8:
        raise ValueError(f"encode_jpeg wants uint8 pixels, got {pixels.dtype}")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    gray = pixels.ndim == 2
    if not gray and (pixels.ndim != 3 or pixels.shape[2] != 3):
        raise ValueError("encode_jpeg wants (h,w) gray or (h,w,3) RGB uint8")
    h, w = pixels.shape[:2]

    # IJG quality scaling
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    def _scaled(base: np.ndarray) -> np.ndarray:
        return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)
    q_luma = _scaled(_Q_LUMA)
    q_chroma = _scaled(_Q_CHROMA)

    if gray:
        y = pixels.astype(np.float64)
        planes = [(_pad_to8(y), q_luma)]
        samp = [(1, 1)]
    else:
        px = pixels.astype(np.float64)
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "420":
            # pad to 16 so the 2×2 box average and MCU grid line up
            y16 = np.pad(y, ((0, (-h) % 16), (0, (-w) % 16)), mode="edge")
            cb = np.pad(cb, ((0, (-h) % 16), (0, (-w) % 16)), mode="edge")
            cr = np.pad(cr, ((0, (-h) % 16), (0, (-w) % 16)), mode="edge")
            hh, ww = cb.shape
            cb = cb.reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
            planes = [(y16, q_luma), (cb, q_chroma), (cr, q_chroma)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [(_pad_to8(y), q_luma), (_pad_to8(cb), q_chroma),
                      (_pad_to8(cr), q_chroma)]
            samp = [(1, 1), (1, 1), (1, 1)]

    blocks = [_component_blocks(p, q) for p, q in planes]
    return h, w, blocks, samp, q_luma, q_chroma, gray


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w) gray or (h, w, 3) RGB uint8 array as a
    baseline sequential JPEG (JFIF, Annex-K tables quality-scaled the
    IJG way, 'typical' Huffman tables). ``subsampling``: "444" (one
    block per component per MCU) or "420" (2×2 luma blocks share one
    chroma block — the common camera layout, exercising the general
    MCU path in ``decode_jpeg``). ``restart_interval`` emits DRI +
    RSTn markers every N MCUs (what camera firmware does for error
    resilience — and what exercises the decoder's restart path).
    Lossy inverse of ``decode_jpeg``: round-trip error is bounded by
    the quantization tables."""
    h, w, blocks, samp, q_luma, q_chroma, gray = _jpeg_plan(
        pixels, quality, subsampling
    )
    planes = blocks  # len == number of components

    dc_l, ac_l = _huff_codes(_DC_LUMA_BITS, _DC_LUMA_VALS), _huff_codes(
        _AC_LUMA_BITS, _AC_LUMA_VALS
    )
    dc_c, ac_c = _huff_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS), _huff_codes(
        _AC_CHROMA_BITS, _AC_CHROMA_VALS
    )
    tables = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (len(planes) - 1)

    # interleaved MCU scan
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    writer = _BitWriter()
    prev_dc = [0] * len(planes)
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                writer.marker(0xD0 + ((mcu_index // restart_interval - 1) % 8))
                prev_dc = [0] * len(planes)
            for ci, (hi, vi) in enumerate(samp):
                for by in range(vi):
                    for bx in range(hi):
                        blk = blocks[ci][my * vi + by, mx * hi + bx]
                        prev_dc[ci] = _encode_block(
                            writer, blk, prev_dc[ci], *tables[ci]
                        )
            mcu_index += 1
    entropy = writer.flush()

    def _marker(tag: int, body: bytes) -> bytes:
        return struct.pack(">HH", tag, len(body) + 2) + body

    def _dqt(tid: int, table: np.ndarray) -> bytes:
        return _marker(
            0xFFDB, bytes([tid]) + bytes(int(v) for v in table.reshape(64)[_ZIGZAG])
        )

    def _dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        return _marker(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    ncomp = len(planes)
    sof_comps = b"".join(
        struct.pack("BBB", i + 1, (samp[i][0] << 4) | samp[i][1], 0 if i == 0 else 1)
        for i in range(ncomp)
    )
    sos_comps = b"".join(
        struct.pack("BB", i + 1, 0x00 if i == 0 else 0x11) for i in range(ncomp)
    )
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _marker(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt(0, q_luma)
    if ncomp > 1:
        out += _dqt(1, q_chroma)
    out += _marker(0xFFC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    out += _dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if ncomp > 1:
        out += _dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    if restart_interval:
        out += _marker(0xFFDD, struct.pack(">H", restart_interval))
    out += _marker(0xFFDA, bytes([ncomp]) + sos_comps + b"\x00\x3f\x00")
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _ScanRecorder:
    """Two-pass progressive-scan entropy coder: pass 1 records
    (symbol | raw-bit) events; ``table()`` then derives a canonical
    FIXED-LENGTH Huffman table over exactly the symbols used (legal,
    just less compressed than per-scan optimal tables — the point
    here is a correct, self-contained encoder, and fixed length
    sidesteps per-scan frequency optimization); pass 2 (``emit``)
    writes the recorded stream through that table."""

    def __init__(self) -> None:
        self.events: list[tuple[str, int, int]] = []

    def sym(self, s: int) -> None:
        self.events.append(("s", s, 0))

    def raw(self, v: int, n: int) -> None:
        if n:
            self.events.append(("r", v, n))

    def table(self) -> tuple[list[int], list[int]]:
        vals = sorted({s for kind, s, _ in self.events if kind == "s"})
        if not vals:
            vals = [0x00]  # a DHT must define at least one code
        # shortest L with 2^L > len(vals): leaves the all-ones code
        # unused, as T.81 requires
        length = max(1, len(vals).bit_length())
        if (1 << length) <= len(vals):
            length += 1
        bits = [0] * 16
        bits[length - 1] = len(vals)
        return bits, vals

    def emit(self, writer: "_BitWriter", codes: dict[int, tuple[int, int]]) -> None:
        for kind, v, n in self.events:
            if kind == "s":
                writer.write(*codes[v])
            else:
                writer.write(v, n)


def _prog_dc_first(rec: _ScanRecorder, zz0: int, pred: int, al: int) -> int:
    v = zz0 >> al  # arithmetic shift: the DC point transform (T.81 A.4)
    s, bits = _mag_bits(v - pred)
    rec.sym(s)
    rec.raw(bits, s)
    return v


def _flush_eobrun(rec: _ScanRecorder, eobrun: int, br: list[int]) -> None:
    """Emit an EOBn symbol covering ``eobrun`` end-of-band blocks,
    followed by any buffered refinement correction bits."""
    if eobrun:
        r = eobrun.bit_length() - 1
        rec.sym(r << 4)
        rec.raw(eobrun - (1 << r), r)
        for b in br:
            rec.raw(b, 1)
        br.clear()


def _prog_ac_first(
    rec: _ScanRecorder, zz: np.ndarray, ss: int, se: int, al: int, eobrun: int
) -> int:
    """One block of an AC first (Ah=0) progressive scan: run/size
    coding of the band's point-transformed coefficients, with
    cross-block EOB-run accumulation. Returns the updated EOB run."""
    vals = [
        (1 if int(zz[k]) >= 0 else -1) * (abs(int(zz[k])) >> al)
        for k in range(ss, se + 1)
    ]
    if not any(vals):
        eobrun += 1
        if eobrun == 0x7FFF:
            _flush_eobrun(rec, eobrun, [])
            eobrun = 0
        return eobrun
    _flush_eobrun(rec, eobrun, [])
    eobrun = 0
    run = 0
    for v in vals:
        if v == 0:
            run += 1
            continue
        while run > 15:
            rec.sym(0xF0)  # ZRL
            run -= 16
        s, bits = _mag_bits(v)
        rec.sym((run << 4) | s)
        rec.raw(bits, s)
        run = 0
    if run:
        eobrun = 1  # this block's trailing zeros start a fresh EOB run
    return eobrun


def _prog_ac_refine(
    rec: _ScanRecorder,
    zz: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
    br: list[int],
) -> int:
    """One block of an AC refinement (Ah=Al+1) scan per T.81
    G.1.2.3: newly-nonzero coefficients emit (run, 1) + a sign bit;
    already-nonzero coefficients contribute buffered correction bits
    that flush after the next emitted symbol; all-history blocks
    join the EOB run with their corrections buffered."""
    mags = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    signs = [1 if int(zz[k]) >= 0 else 0 for k in range(ss, se + 1)]
    eobpos = -1  # index into the band of the LAST newly-nonzero coef
    for i, m in enumerate(mags):
        if m == 1:
            eobpos = i
    if eobpos < 0:
        # nothing newly significant: block joins the EOB run, its
        # correction bits ride along in the buffer
        br.extend(m & 1 for m in mags if m > 1)
        eobrun += 1
        if eobrun == 0x7FFF:
            _flush_eobrun(rec, eobrun, br)
            eobrun = 0
        return eobrun
    _flush_eobrun(rec, eobrun, br)
    eobrun = 0
    run = 0
    for i in range(eobpos + 1):
        m = mags[i]
        if m == 0:
            run += 1
        elif m > 1:
            br.append(m & 1)
        else:  # newly nonzero
            while run > 15:
                rec.sym(0xF0)
                for b in br:
                    rec.raw(b, 1)
                br.clear()
                run -= 16
            rec.sym((run << 4) | 1)
            rec.raw(signs[i], 1)
            for b in br:
                rec.raw(b, 1)
            br.clear()
            run = 0
    trailing = [mags[i] & 1 for i in range(eobpos + 1, len(mags)) if mags[i] > 1]
    trailing_zeros = any(mags[i] == 0 for i in range(eobpos + 1, len(mags)))
    if trailing or trailing_zeros or run:
        br.extend(trailing)
        eobrun = 1
    return eobrun


def encode_jpeg_progressive(
    pixels: np.ndarray, quality: int = 85, subsampling: str = "444"
) -> bytes:
    """Encode an (h, w) gray or (h, w, 3) RGB uint8 array as a
    PROGRESSIVE JPEG (SOF2) using both progression axes the format
    defines: spectral selection (DC scan, then AC bands 1-5 and
    6-63 per component) and successive approximation (every scan
    first at Al=1, then refinement scans Ah=1→Al=0) — the scan
    script shape libjpeg's default progression uses, so the decoder
    faces the same stream structure wild progressive JPEGs have
    (EOB runs, refinement correction bits, per-component
    non-interleaved AC scans). Same quantization pipeline as
    ``encode_jpeg``; pixels round-trip identically to the baseline
    encoding of the same image since the final precision is Al=0."""
    h, w, blocks, samp, q_luma, q_chroma, gray = _jpeg_plan(
        pixels, quality, subsampling
    )
    ncomp = len(blocks)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # zigzag-order coefficient vectors per component, (by, bx, 64)
    zzs = [b.reshape(b.shape[0], b.shape[1], 64)[..., _ZIGZAG] for b in blocks]

    def _comp_grid(ci: int) -> tuple[int, int]:
        hi, vi = samp[ci]
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        return -(-ch // 8), -(-cw // 8)

    def _scan(sos_body: bytes, rec: _ScanRecorder, n_dht: list) -> bytes:
        bits, vals = rec.table()
        codes = _huff_codes(bits, vals)
        writer = _BitWriter()
        rec.emit(writer, codes)
        out = bytearray()
        for cls, tid in n_dht:
            out += struct.pack(
                ">HH", 0xFFC4, 2 + 1 + 16 + len(vals)
            ) + bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        out += struct.pack(">HH", 0xFFDA, 2 + len(sos_body)) + sos_body
        out += writer.flush()
        return bytes(out)

    scans = []

    # 1) DC first scan: all components interleaved, Al=1
    rec = _ScanRecorder()
    pred = [0] * ncomp
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (hi, vi) in enumerate(samp):
                for by in range(vi):
                    for bx in range(hi):
                        pred[ci] = _prog_dc_first(
                            rec,
                            int(zzs[ci][my * vi + by, mx * hi + bx, 0]),
                            pred[ci],
                            1,
                        )
    sos = bytes([ncomp]) + b"".join(
        struct.pack("BB", ci + 1, 0x00) for ci in range(ncomp)
    ) + bytes([0, 0, (0 << 4) | 1])
    scans.append(_scan(sos, rec, [(0, 0)]))

    # 2) AC first scans: per component, bands 1-5 then 6-63, Al=1
    for ss, se in ((1, 5), (6, 63)):
        for ci in range(ncomp):
            rec = _ScanRecorder()
            bh, bw = _comp_grid(ci)
            eobrun = 0
            for by in range(bh):
                for bx in range(bw):
                    eobrun = _prog_ac_first(
                        rec, zzs[ci][by, bx], ss, se, 1, eobrun
                    )
            _flush_eobrun(rec, eobrun, [])
            sos = bytes([1, ci + 1, 0x00, ss, se, (0 << 4) | 1])
            scans.append(_scan(sos, rec, [(1, 0)]))

    # 3) DC refinement: all components interleaved, Ah=1 -> Al=0
    rec = _ScanRecorder()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (hi, vi) in enumerate(samp):
                for by in range(vi):
                    for bx in range(hi):
                        rec.raw(int(zzs[ci][my * vi + by, mx * hi + bx, 0]) & 1, 1)
    sos = bytes([ncomp]) + b"".join(
        struct.pack("BB", ci + 1, 0x00) for ci in range(ncomp)
    ) + bytes([0, 0, (1 << 4) | 0])
    # DC refinement reads no Huffman codes, but a DHT slot must exist
    scans.append(_scan(sos, rec, [(0, 0)]))

    # 4) AC refinement scans: per component, same bands, Ah=1 -> Al=0
    for ss, se in ((1, 5), (6, 63)):
        for ci in range(ncomp):
            rec = _ScanRecorder()
            bh, bw = _comp_grid(ci)
            eobrun, br = 0, []
            for by in range(bh):
                for bx in range(bw):
                    eobrun = _prog_ac_refine(
                        rec, zzs[ci][by, bx], ss, se, 0, eobrun, br
                    )
            _flush_eobrun(rec, eobrun, br)
            sos = bytes([1, ci + 1, 0x00, ss, se, (1 << 4) | 0])
            scans.append(_scan(sos, rec, [(1, 0)]))

    def _marker(tag: int, body: bytes) -> bytes:
        return struct.pack(">HH", tag, len(body) + 2) + body

    sof_comps = b"".join(
        struct.pack("BBB", i + 1, (samp[i][0] << 4) | samp[i][1], 0 if i == 0 else 1)
        for i in range(ncomp)
    )
    out = bytearray()
    out += b"\xff\xd8"
    out += _marker(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _marker(
        0xFFDB, b"\x00" + bytes(int(v) for v in q_luma.reshape(64)[_ZIGZAG])
    )
    if ncomp > 1:
        out += _marker(
            0xFFDB, b"\x01" + bytes(int(v) for v in q_chroma.reshape(64)[_ZIGZAG])
        )
    out += _marker(0xFFC2, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
    for s in scans:
        out += s
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """Entropy-segment reader: un-stuffs 0xFF00, stops at any other
    marker, and supports the byte-aligned restart-marker handshake."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy data")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated entropy data")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise ValueError(
                    "hit a restart marker mid-symbol (corrupt entropy data)"
                )
            else:
                raise ValueError("entropy data ended at an unexpected marker")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align, skip any pad bytes (1-bit padding may itself be
        a stuffed 0xFF00 pair), and consume the RSTn marker."""
        self._acc, self._n = 0, 0
        skipped = 0
        while not (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
            skipped += 1
            if skipped > 4 or self.pos + 1 >= len(self.data):
                raise ValueError("expected restart marker")
        self.pos += 2


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | reader.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy data")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline sequential (SOF0/1) or PROGRESSIVE (SOF2,
    spectral selection + successive approximation, the dominant wild
    variant) Huffman JPEG to an (h, w, 3) uint8 RGB array (grayscale
    broadcast to 3 channels). Handles 4:4:4 / 4:2:2 / 4:2:0 sampling
    and DRI/RSTn restart intervals. Raises ValueError on
    arithmetic-coded, lossless, hierarchical, 12-bit, or truncated
    streams so callers can fall back — the same contract as
    ``decode_png``."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, [(comp_id, hi, vi, tq)])
    progressive = False
    coeffs: list[np.ndarray] | None = None  # per-comp (by, bx, 64) zigzag
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at byte {pos}")
        # spec-legal 0xFF fill bytes may pad before any marker
        # (ITU-T T.81 §B.1.1.2) — skip them, don't parse one as a
        # marker byte followed by a bogus length
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seg_len]
        if len(body) < seg_len - 2:
            raise ValueError("truncated JPEG marker segment")
        if marker == 0xDB:  # DQT — possibly several tables per marker
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                if prec != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                zz = np.frombuffer(body, dtype=np.uint8, count=64, offset=i + 1)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = zz
                qtables[tid] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT — possibly several tables per marker
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(bits) < 16 or len(vals) < n:
                    # a truncated stream can cut mid-DHT: the counts
                    # promise more codes than the segment delivers
                    raise ValueError("truncated DHT segment")
                inv = {
                    (length, code): sym
                    for sym, (code, length) in _huff_codes(bits, vals).items()
                }
                htables[(cls, tid)] = inv
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            depth, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if depth != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from("BBB", body, 6 + 3 * i)
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "non-baseline JPEG (arithmetic/lossless/hierarchical) "
                "unsupported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []  # (comp_idx, dc_tid, ac_tid)
            h, w, comps = frame
            if not progressive and ns < len(comps):
                # spec-legal baseline JPEGs may split components across
                # several non-interleaved scans; the baseline decoder
                # handles a single fully interleaved scan only — reject
                # loudly (same contract as the arithmetic path) instead
                # of decoding scan 1 over the wrong MCU grid
                raise ValueError(
                    "non-interleaved multi-scan baseline JPEG unsupported "
                    f"(SOS has {ns} of {len(comps)} frame components)"
                )
            for i in range(ns):
                cs, tds = body[1 + 2 * i], body[2 + 2 * i]
                idx = next(
                    j for j, c in enumerate(comps) if c[0] == cs
                )
                scan.append((idx, tds >> 4, tds & 0x0F))
            if not progressive:
                return _decode_scan(
                    payload, pos + 2 + seg_len, frame, scan, qtables,
                    htables, restart_interval,
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            a = body[3 + 2 * ns]
            if coeffs is None:
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                coeffs = [
                    np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.int64)
                    for (_, hi, vi, _) in comps
                ]
            pos = _decode_progressive_scan(
                payload, pos + 2 + seg_len, frame, scan,
                ss, se, a >> 4, a & 0x0F, htables, restart_interval, coeffs,
            )
            continue
        pos += 2 + seg_len
    if progressive and coeffs is not None:
        return _reconstruct(frame, coeffs, qtables)
    raise ValueError("no SOS marker found")


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    frame: tuple,
    scan: list[tuple[int, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    htables: dict,
    restart_interval: int,
    coeffs: list[np.ndarray],
) -> int:
    """Decode ONE progressive scan (T.81 G.2) into the per-component
    zigzag coefficient state, and return the byte offset of the next
    marker. DC scans (Ss=0) may interleave components in MCU order;
    AC scans are single-component over that component's own block
    grid. ``Ah=0`` scans establish coefficients at precision ``Al``
    (with EOB-run coding for AC); ``Ah>0`` scans refine one magnitude
    bit, reading correction bits for already-nonzero coefficients."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    reader = _BitReader(data, pos)
    p1 = 1 << al

    def _correct(zz: np.ndarray, k: int) -> None:
        c = int(zz[k])
        if c != 0 and reader.bit() and (c & p1) == 0:
            zz[k] = c + (p1 if c > 0 else -p1)

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        pred = [0] * len(comps)

        def _dc_block(ci: int, dc_tid: int, by: int, bx: int) -> None:
            zz = coeffs[ci][by, bx]
            if ah == 0:
                tab = htables.get((0, dc_tid))
                if tab is None:
                    raise ValueError("scan references a missing Huffman table")
                s = _huff_decode(reader, tab)
                pred[ci] += _extend(reader.bits(s), s) if s else 0
                zz[0] = pred[ci] << al
            elif reader.bit():
                zz[0] = int(zz[0]) | p1

        if len(scan) > 1:
            n = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and n and n % restart_interval == 0:
                        reader.restart()
                        pred = [0] * len(comps)
                    for ci, dc_tid, _ in scan:
                        _, hi, vi, _ = comps[ci]
                        for by in range(vi):
                            for bx in range(hi):
                                _dc_block(ci, dc_tid, my * vi + by, mx * hi + bx)
                    n += 1
        else:
            ci, dc_tid, _ = scan[0]
            _, hi, vi, _ = comps[ci]
            ch, cw = -(-(h * vi) // vmax), -(-(w * hi) // hmax)
            bh, bw = -(-ch // 8), -(-cw // 8)
            n = 0
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and n and n % restart_interval == 0:
                        reader.restart()
                        pred = [0] * len(comps)
                    _dc_block(ci, dc_tid, by, bx)
                    n += 1
    else:  # AC scan: single component, raster over its own grid
        if len(scan) != 1:
            raise ValueError("progressive AC scans must be single-component")
        ci, _, ac_tid = scan[0]
        tab = htables.get((1, ac_tid))
        if tab is None:
            raise ValueError("scan references a missing Huffman table")
        _, hi, vi, _ = comps[ci]
        ch, cw = -(-(h * vi) // vmax), -(-(w * hi) // hmax)
        bh, bw = -(-ch // 8), -(-cw // 8)
        eobrun = 0
        n = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and n and n % restart_interval == 0:
                    reader.restart()
                    eobrun = 0
                n += 1
                zz = coeffs[ci][by, bx]
                if eobrun > 0:
                    eobrun -= 1
                    if ah:  # EOB-run blocks still carry correction bits
                        for k in range(ss, se + 1):
                            _correct(zz, k)
                    continue
                k = ss
                if ah == 0:  # first pass at this precision
                    while k <= se:
                        sym = _huff_decode(reader, tab)
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.bits(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("corrupt AC coefficient run")
                        zz[k] = _extend(reader.bits(s), s) << al
                        k += 1
                else:  # refinement
                    hit_eob = False
                    while k <= se:
                        sym = _huff_decode(reader, tab)
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0 and r < 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.bits(r)
                            hit_eob = True
                            break
                        if s == 0:
                            val = 0  # ZRL: 16 zero-history coefficients
                        elif s == 1:
                            val = p1 if reader.bit() else -p1
                        else:
                            raise ValueError(
                                "refinement scan symbol must have size 1"
                            )
                        while k <= se:
                            c = int(zz[k])
                            if c != 0:
                                if reader.bit() and (c & p1) == 0:
                                    zz[k] = c + (p1 if c > 0 else -p1)
                            else:
                                if r == 0:
                                    if val:
                                        zz[k] = val
                                    k += 1
                                    break
                                r -= 1
                            k += 1
                    if hit_eob:
                        # EOB entered mid-block: correction bits for
                        # the remaining already-nonzero coefficients
                        for kk in range(k, se + 1):
                            _correct(zz, kk)
    # advance past pad bits to the next marker
    p = reader.pos
    while p + 1 < len(data) and not (
        data[p] == 0xFF
        and data[p + 1] != 0x00
        and not (0xD0 <= data[p + 1] <= 0xD7)
    ):
        p += 1
    return p


def _reconstruct(
    frame: tuple, coeffs: list[np.ndarray], qtables: dict
) -> np.ndarray:
    """Dequantize + IDCT + upsample + color-convert per-component
    zigzag coefficient arrays to the final RGB image. Fully
    vectorized: the inverse zigzag, dequant, and the IDCT sandwich
    run as whole-plane numpy ops (one einsum per component)."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for ci, (_, hi, vi, tq) in enumerate(comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("frame references a missing quant table")
        zz = coeffs[ci]
        by, bx = zz.shape[0], zz.shape[1]
        nat = np.zeros_like(zz)
        nat[..., _ZIGZAG] = zz
        dq = nat.reshape(by, bx, 8, 8) * q
        blocks = np.einsum("ux,byuv,vz->byxz", _DCT, dq.astype(np.float64), _DCT)
        plane = blocks.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8) + 128.0
        plane = np.repeat(
            np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
        )
        full.append(plane[:h, :w])
    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def _decode_scan(
    data: bytes,
    pos: int,
    frame: tuple,
    scan: list[tuple[int, int, int]],
    qtables: dict,
    htables: dict,
    restart_interval: int,
) -> np.ndarray:
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcus_y * vi * 8, mcus_x * hi * 8), dtype=np.float64)
        for (_, hi, vi, _) in comps
    ]
    reader = _BitReader(data, pos)
    prev_dc = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                prev_dc = [0] * len(comps)
            for ci, dc_tid, ac_tid in scan:
                _, hi, vi, tq = comps[ci]
                dc_tab = htables.get((0, dc_tid))
                ac_tab = htables.get((1, ac_tid))
                if dc_tab is None or ac_tab is None:
                    raise ValueError("scan references a missing Huffman table")
                q = qtables.get(tq)
                if q is None:
                    raise ValueError("scan references a missing quant table")
                for by in range(vi):
                    for bx in range(hi):
                        zz = np.zeros(64, dtype=np.int64)
                        s = _huff_decode(reader, dc_tab)
                        diff = _extend(reader.bits(s), s) if s else 0
                        prev_dc[ci] += diff
                        zz[0] = prev_dc[ci]
                        k = 1
                        while k < 64:
                            sym = _huff_decode(reader, ac_tab)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += sym >> 4
                            size = sym & 0x0F
                            if k > 63 or size == 0:
                                raise ValueError("corrupt AC coefficient run")
                            zz[k] = _extend(reader.bits(size), size)
                            k += 1
                        coefs = np.zeros(64, dtype=np.int64)
                        coefs[_ZIGZAG] = zz
                        block = _DCT.T @ (coefs.reshape(8, 8) * q) @ _DCT
                        y0, x0 = (my * vi + by) * 8, (mx * hi + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1

    # upsample to full resolution and crop
    full = []
    for (ci, (_, hi, vi, _)) in enumerate(comps):
        p = planes[ci] + 128.0
        p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Encode a 1-D int16 sample array as a mono 16-bit PCM WAV
    (RIFF). Stdlib-only; the inverse of ``decode_wav``."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a 16-bit PCM WAV to (sample_rate, int16 sample array —
    first channel if multi-channel). Stdlib RIFF chunk walk + numpy;
    raises ValueError on compressed/other-depth variants so callers
    can fall back."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits = 12, None, None, None
    data = None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16 or len(body) < 16:
                raise ValueError("truncated fmt chunk")
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or bits != 16:
                raise ValueError("unsupported WAV variant (need 16-bit PCM)")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    if channels and channels > 1:
        samples = samples[::channels]  # first channel
    return rate, samples.copy()


def _audio_feature(rate: int, samples: np.ndarray, dims: int = 8) -> list[float]:
    """Real audio descriptor from decoded PCM: RMS energy, zero-
    crossing rate, peak, mean, and 4 segment RMS values — all scaled
    to [-1, 1]. Vectorized numpy; deterministic."""
    if len(samples) == 0:
        return [0.0] * dims
    x = samples.astype(np.float64) / 32768.0
    zc = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) if len(x) > 1 else 0.0
    segs = np.array_split(x, 4)
    seg_rms = [float(np.sqrt(np.mean(s * s)) if len(s) else 0.0) for s in segs]
    feats = [
        float(np.sqrt(np.mean(x * x))),          # rms ∈ [0,1]
        zc,                                      # zcr ∈ [0,1]
        float(np.max(np.abs(x))),                # peak ∈ [0,1]
        float(np.mean(x)),                       # dc offset ∈ [-1,1]
        *seg_rms,
    ]
    out = [max(-1.0, min(1.0, f * 2 - 1 if i != 3 else f)) for i, f in enumerate(feats)]
    return [float(out[i % len(out)]) for i in range(dims)]


# ---------------------------------------------------------------------------
# MPEG audio (MP3) frame-header walk — METADATA ONLY, no PCM decode.
# Per the public header layout of ISO/IEC 11172-3 / 13818-3: 11 sync
# bits, version, layer, bitrate index, sample-rate index, padding.
# Frame LENGTHS are computable from the header alone, so frame count,
# duration, bitrate profile (CBR/VBR) and stream-size accounting need
# no Huffman/MDCT work — the metadata-extraction half of MP3 support
# a crawl pipeline actually needs (full PCM decode stays behind the
# AUDIO_DECODERS registry seam for an ffmpeg-backed callable).
# ---------------------------------------------------------------------------

#: bitrate tables in kbps, indexed [1..14] (0 = free-format, 15 = bad)
#: — public tables from the MPEG audio spec.
_MP3_BITRATES = {
    # (version_group, layer): version_group 1 = MPEG1, 2 = MPEG2/2.5
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}

#: sample-rate tables by version bits (0=MPEG2.5, 2=MPEG2, 3=MPEG1)
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def _mp3_frame_header(b0: int, b1: int, b2: int):
    """Parse one 4-byte MPEG audio frame header (byte 3 carries only
    channel/emphasis bits — irrelevant to length/duration). Returns
    (version_bits, layer, kbps, sample_rate, frame_bytes,
    samples_per_frame) or None if the bytes are not a valid header."""
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version_bits = (b1 >> 3) & 3
    layer_bits = (b1 >> 1) & 3
    if version_bits == 1 or layer_bits == 0:
        return None  # reserved version / reserved layer
    layer = 4 - layer_bits  # bits 3/2/1 -> Layer I/II/III
    br_idx = (b2 >> 4) & 15
    sr_idx = (b2 >> 2) & 3
    pad = (b2 >> 1) & 1
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format needs full decode; 15/3 invalid
    vgroup = 1 if version_bits == 3 else 2
    kbps = _MP3_BITRATES[(vgroup, layer)][br_idx - 1]
    sr = _MP3_RATES[version_bits][sr_idx]
    if layer == 1:
        spf = 384
        frame_bytes = (12000 * kbps // sr + pad) * 4
    elif layer == 2:
        spf = 1152
        frame_bytes = 144000 * kbps // sr + pad
    else:  # Layer III
        spf = 1152 if vgroup == 1 else 576
        frame_bytes = (144000 if vgroup == 1 else 72000) * kbps // sr + pad
    return version_bits, layer, kbps, sr, frame_bytes, spf


def _mp3_vbr_header(payload: bytes, pos: int, frame_bytes: int,
                    version_bits: int):
    """Read a Xing/Info/LAME-style or VBRI metadata header out of the
    FIRST frame's body, per the public de-facto layouts (the Xing SDK
    header and the Fraunhofer VBRI header, both documented in the
    multiformat MPEG-audio references): Xing/Info sits right after
    the Layer III side info (MPEG1: 17 bytes mono / 32 stereo;
    MPEG2/2.5: 9 / 17), VBRI at a fixed 32 bytes after the 4-byte
    frame header. Returns (tag, frames, bytes_) with None fields for
    absent values, or (None, None, None) when the frame carries no
    recognized header. Pure byte reads bounded by ``frame_bytes`` —
    never walks past the frame."""
    end = pos + frame_bytes

    def be32(off: int):
        if off + 4 > min(len(payload), end):
            return None
        return int.from_bytes(payload[off : off + 4], "big")

    mono = (payload[pos + 3] >> 6) == 3 if pos + 3 < len(payload) else False
    side = (17 if mono else 32) if version_bits == 3 else (9 if mono else 17)
    off = pos + 4 + side
    # the tag probe itself must stay inside the frame: a short
    # MPEG2/2.5 low-bitrate frame (e.g. 8 kbps @ 24 kHz = 24 bytes)
    # ends before the Xing offset, and an unbounded read would sniff
    # the NEXT frame's bytes — a chance 'Xing' match there would
    # misclassify a real audio frame as metadata.
    if off + 4 <= min(len(payload), end):
        tag4 = payload[off : off + 4]
        if tag4 in (b"Xing", b"Info"):
            flags = be32(off + 4)
            if flags is None:
                return None, None, None
            cur = off + 8
            frames = bytes_ = None
            if flags & 1:
                frames = be32(cur)
                cur += 4
            if flags & 2:
                bytes_ = be32(cur)
            return tag4.decode("ascii"), frames, bytes_
    off = pos + 4 + 32
    # VBRI's full field block is 4(tag)+2+2+2+4+4 = 18 bytes at a
    # fixed 36-byte offset; skip the probe when the frame can't hold
    # it (same next-frame-sniff hazard as above).
    if 4 + 32 + 18 <= frame_bytes and off + 4 <= len(payload):
        if payload[off : off + 4] == b"VBRI":
            # VBRI: version(2) delay(2) quality(2) bytes(4) frames(4)
            return "VBRI", be32(off + 14), be32(off + 10)
    return None, None, None


def _id3v2_size(payload: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 if none): 10-byte
    header + syncsafe size (+10-byte footer when flag bit 4 set)."""
    if len(payload) < 10 or payload[:3] != b"ID3":
        return 0
    flags = payload[5]
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            return 0  # not syncsafe -> not a valid ID3v2 header
        size = (size << 7) | b
    return 10 + size + (10 if flags & 0x10 else 0)


def mp3_metadata(payload: bytes) -> dict:
    """Walk MPEG audio frame headers and return stream metadata with
    NO PCM decode: frame count, constant sample rate, kbps min/max,
    VBR flag (measured: distinct bitrates), exact audio byte count,
    integer duration_ms, tag accounting, and a clean_eof audit flag.

    Leading ID3v2 tags are skipped by their syncsafe length; a
    trailing 128-byte ID3v1 'TAG' block is recognized at any frame
    boundary. The walk STOPS (clean_eof=False) at a truncated final
    frame or non-header bytes — the tolerant posture a crawl
    pipeline needs — but raises ValueError when no valid first frame
    exists (not an MPEG audio stream) or when sample rate / version
    change mid-stream (a spliced file: per-frame duration would no
    longer sum exactly). Free-format bitrate (index 0) is treated as
    invalid — its frame length is only discoverable by full decode.

    All outputs are exact integers: duration_ms = floor(total_samples
    * 1000 / sample_rate) — the per-frame sample counts are spec
    constants, so this is reproducible arithmetic, not an estimate.

    VBR headers (round-12): when the FIRST frame carries a Xing /
    Info / VBRI metadata header (``_mp3_vbr_header``), its
    frame-count / byte-count fields are surfaced as ``hdr_frames`` /
    ``hdr_bytes`` beside the walked values, with ``hdr_consistent``
    auditing them against the walk (header frames exclude the
    metadata frame itself; header bytes include it — the LAME/Xing
    convention). The metadata frame stays in the STRUCTURAL counts
    (n_frames / audio_bytes) but its spec samples are excluded from
    duration_ms, and for a HEAD-TRUNCATED payload (clean_eof False)
    with a frame-count field the header becomes the duration source
    (``duration_source = 'header'``) — the only duration available
    when a crawl kept just the head of a file. A CLEAN stream whose
    header over-claims frames is only trusted when its byte count
    ALSO exceeds the walked audio bytes (the frame-boundary-cut
    signature); a header whose bytes agree with the walk but whose
    frame count doesn't is a lying header on a complete file —
    duration stays 'walk' and hdr_consistent==0 flags the header
    (round-13, ADVICE). Streams without a VBR header keep the exact
    pre-round-12 outputs (hdr_* all None, duration_source 'walk')."""
    pos = _id3v2_size(payload)
    id3v2_bytes = pos
    n_frames = 0
    audio_bytes = 0
    total_samples = 0
    sr = version = None
    kbps_min = kbps_max = None
    id3v1 = False
    clean = True
    hdr_tag = hdr_frames = hdr_bytes = None
    spf0 = None
    while True:
        remaining = len(payload) - pos
        if remaining == 0:
            break
        if remaining >= 3 and payload[pos : pos + 3] == b"TAG" and remaining == 128:
            id3v1 = True
            pos += 128
            break
        if remaining < 4:
            clean = False
            break
        hdr = _mp3_frame_header(payload[pos], payload[pos + 1], payload[pos + 2])
        if hdr is None:
            clean = False
            break
        vbits, _layer, kbps, fsr, frame_bytes, spf = hdr
        if sr is None:
            sr, version = fsr, vbits
        elif fsr != sr or vbits != version:
            raise ValueError(
                "inconsistent MPEG stream: sample rate/version changed "
                f"mid-stream at byte {pos} ({sr}Hz -> {fsr}Hz)"
            )
        if remaining < frame_bytes:
            clean = False  # truncated final frame: not counted
            break
        if n_frames == 0:
            spf0 = spf
            hdr_tag, hdr_frames, hdr_bytes = _mp3_vbr_header(
                payload, pos, frame_bytes, vbits
            )
        # the metadata frame's own bitrate is an encoder artifact —
        # keeping it in the stats would flip a CBR file to vbr=1
        is_meta = n_frames == 0 and hdr_tag is not None
        n_frames += 1
        audio_bytes += frame_bytes
        total_samples += spf
        if not is_meta:
            kbps_min = kbps if kbps_min is None else min(kbps_min, kbps)
            kbps_max = kbps if kbps_max is None else max(kbps_max, kbps)
        pos += frame_bytes
    if n_frames == 0:
        raise ValueError("no valid MPEG audio frame found")
    if hdr_tag is not None:
        # the metadata frame carries no audio: its spec samples come
        # out of the walked duration (players skip it). The header
        # becomes the duration source whenever the walk cannot
        # account for the frames it claims — a mid-frame truncation
        # (clean_eof False) OR a cut exactly at a frame boundary,
        # which only the header's frame count can expose. A boundary
        # cut is discriminated from a LYING header by the byte
        # field: a cut leaves hdr_bytes > audio_bytes (the header
        # counted the whole file), while a corrupt frame count on a
        # complete file typically keeps hdr_bytes == audio_bytes —
        # in that case the walk is the evidence, and the row's
        # hdr_consistent==0 already flags the header as bad.
        music_samples = total_samples - spf0
        if hdr_frames is not None and (
            not clean
            or (
                hdr_frames > n_frames - 1
                and (hdr_bytes is None or hdr_bytes > audio_bytes)
            )
        ):
            duration_ms = hdr_frames * spf0 * 1000 // sr
            duration_source = "header"
        else:
            duration_ms = music_samples * 1000 // sr
            duration_source = "walk"
        hdr_consistent = None
        if clean:
            hdr_consistent = int(
                (hdr_frames is None or hdr_frames == n_frames - 1)
                and (hdr_bytes is None or hdr_bytes == audio_bytes)
            )
    else:
        duration_ms = total_samples * 1000 // sr
        duration_source = "walk"
        hdr_consistent = None
    return {
        "n_frames": n_frames,
        "sample_rate": sr,
        "kbps_min": kbps_min,
        "kbps_max": kbps_max,
        "vbr": int(kbps_min != kbps_max),
        "audio_bytes": audio_bytes,
        "duration_ms": duration_ms,
        "id3v2_bytes": id3v2_bytes,
        "id3v1": id3v1,
        "clean_eof": clean,
        "hdr_tag": hdr_tag,
        "hdr_frames": hdr_frames,
        "hdr_bytes": hdr_bytes,
        "hdr_consistent": hdr_consistent,
        "duration_source": duration_source,
    }


def encode_mp3_frames(
    frames: "list[tuple[int, int]]",
    sample_rate: int = 44100,
    *,
    layer: int = 3,
    id3v2_payload: bytes | None = None,
    id3v1: bool = False,
    xing: "dict | None" = None,
) -> bytes:
    """Synthesize a structurally valid MPEG-1 audio stream for
    fixtures: one (kbps, padding) tuple per frame, deterministic
    0xAA filler for the frame bodies (metadata walkers never read
    them). The inverse fixture generator for ``mp3_metadata`` — NOT
    a real encoder (bodies are not audio).

    ``xing`` (round-12): prepend a Xing/Info metadata frame (Layer
    III only) whose body carries the de-facto Xing header at the
    MPEG-1 mono offset (4-byte header + 17 bytes side info): tag,
    flags (frames|bytes), then big-endian frame and byte counts.
    Keys, all optional: ``kbps`` (default 64), ``tag`` (default
    ``"Xing"``; use ``"Info"`` for the CBR marker, or ``"VBRI"``
    for the Fraunhofer layout — version/delay/quality shorts then
    byte and frame counts at the fixed offset 32 after the frame
    header), ``frames`` / ``bytes`` to OVERRIDE the auto-computed
    truthful values (music frame count; total audio bytes including
    the metadata frame — the LAME convention) so property tests can
    emit inconsistent headers on purpose."""
    vgroup_rates = _MP3_RATES[3]
    if sample_rate not in vgroup_rates:
        raise ValueError(f"MPEG-1 sample rate must be one of {vgroup_rates}")
    sr_idx = vgroup_rates.index(sample_rate)
    table = _MP3_BITRATES[(1, layer)]
    layer_bits = 4 - layer

    def header(kbps: int, pad: int) -> bytes:
        if kbps not in table:
            raise ValueError(f"kbps {kbps} not in the MPEG-1 L{layer} table")
        br_idx = table.index(kbps) + 1
        return bytes(
            [
                0xFF,
                0xE0 | (3 << 3) | (layer_bits << 1) | 1,  # MPEG1, no CRC
                (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                0xC0,  # single-channel, no emphasis
            ]
        )

    def frame_len(kbps: int, pad: int) -> int:
        if layer == 1:
            return (12000 * kbps // sample_rate + pad) * 4
        return 144000 * kbps // sample_rate + pad

    music = bytearray()
    for kbps, pad in frames:
        music += header(kbps, pad) + b"\xaa" * (frame_len(kbps, pad) - 4)

    out = bytearray()
    if id3v2_payload is not None:
        size = len(id3v2_payload)
        out += b"ID3" + bytes([3, 0, 0]) + bytes(
            (size >> s) & 0x7F for s in (21, 14, 7, 0)
        ) + id3v2_payload
    if xing is not None:
        if layer != 3:
            raise ValueError("Xing headers are a Layer III convention")
        x_kbps = xing.get("kbps", 64)
        fb = frame_len(x_kbps, 0)
        n_val = xing.get("frames", len(frames))
        b_val = xing.get("bytes", fb + len(music))
        tag = xing.get("tag", "Xing")
        if tag == "VBRI":
            # Fraunhofer layout: fixed 32 bytes after the 4-byte
            # header, then version(2) delay(2) quality(2) bytes(4)
            # frames(4), all big-endian
            body = bytearray(b"\x00" * 32)
            body += b"VBRI" + (1).to_bytes(2, "big") + b"\x00" * 4
            body += int(b_val).to_bytes(4, "big")
            body += int(n_val).to_bytes(4, "big")
        else:
            body = bytearray(b"\x00" * 17)  # MPEG-1 mono side info
            body += tag.encode("ascii") + (3).to_bytes(4, "big")
            body += int(n_val).to_bytes(4, "big")
            body += int(b_val).to_bytes(4, "big")
        if len(body) > fb - 4:
            raise ValueError(f"metadata frame at {x_kbps} kbps too small")
        out += header(x_kbps, 0) + body + b"\x00" * (fb - 4 - len(body))
    out += music
    if id3v1:
        out += b"TAG" + b"\x00" * 125
    return bytes(out)


#: metadata columns emitted per payload, in schema order
_MP3_META_COLS = (
    ("n_frames", "int"),
    ("sample_rate", "int"),
    ("kbps_min", "int"),
    ("kbps_max", "int"),
    ("vbr", "int"),
    ("audio_bytes", "bigint"),
    ("duration_ms", "bigint"),
)

#: VBR-header audit columns appended under ``vbr_audit=True``
_MP3_AUDIT_COLS = (
    ("hdr_tag", "string"),
    ("hdr_frames", "int"),
    ("hdr_bytes", "bigint"),
    ("hdr_consistent", "int"),
    ("duration_source", "string"),
)


def extract_mp3_metadata(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
    vbr_audit: bool = False,
) -> DataFrame:
    """One ``mp3_metadata`` row per payload, through ``per_payload``
    (batch shape, id passthrough and the ``strict`` contract are
    documented there). ``strict=False`` contains non-MPEG or spliced
    payloads. ``vbr_audit=True`` appends the Xing/Info/VBRI header
    columns (hdr_tag / hdr_frames / hdr_bytes / hdr_consistent /
    duration_source — see ``mp3_metadata``)."""
    cols = _MP3_META_COLS + (_MP3_AUDIT_COLS if vbr_audit else ())
    return per_payload(
        media_df, lambda b: [mp3_metadata(b)], cols,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


# ---------------------------------------------------------------------------
# ID3 tag CONTENT (ID3v2.3 / v2.4 / v1) — the descriptive-metadata
# half the MP3 family was still missing: mp3_metadata SKIPS a leading
# ID3v2 tag by its syncsafe length (structural accounting only);
# this section reads the tag's text frames (title/artist/album/year/
# track), the fields a crawled-audio pipeline dedupes and routes by.
# Pure byte-walks over the public informal standards (id3.org
# id3v2.3.0 / id3v2.4.0-structure / id3v1): 10-byte header, syncsafe
# tag size, per-frame headers (BE32 sizes in v2.3, syncsafe in
# v2.4), $00/$01/$02/$03 text-encoding bytes, whole-tag (v2.3) and
# per-frame (v2.4) unsynchronisation, trailing 128-byte ID3v1 block
# as the fallback source.
# ---------------------------------------------------------------------------

_ID3_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def _id3_deunsync(data: bytes) -> bytes:
    """Reverse ID3 unsynchronisation: every $FF 00 becomes $FF."""
    return data.replace(b"\xff\x00", b"\xff")


def _id3_text(body: bytes) -> str | None:
    """Decode one text-frame body: encoding byte + text, first
    string up to its terminator (multi-value frames keep value 1)."""
    if not body:
        return None
    codec = _ID3_ENCODINGS.get(body[0])
    if codec is None:
        return None
    try:
        text = body[1:].decode(codec)
    except UnicodeDecodeError:
        return None
    return text.split("\x00", 1)[0]


def _id3_year(text: str | None) -> int | None:
    """Year from a TYER ('1993') or TDRC ('1993-06-15T...') value —
    the leading 4 digits under both conventions."""
    if text is None or len(text) < 4 or not text[:4].isdigit():
        return None
    return int(text[:4])


def _id3_track(text: str | None) -> int | None:
    """Track number from a TRCK value: leading digits of '3' or
    '3/12' (the set-size suffix is discarded)."""
    if not text:
        return None
    digits = ""
    for ch in text:
        if not ch.isdigit():
            break
        digits += ch
    return int(digits) if digits else None


def _id3v1_field(raw: bytes) -> str | None:
    """One fixed-width ID3v1 field: latin-1, NUL/space padded."""
    s = raw.decode("latin-1").rstrip("\x00 ")
    return s if s else None


def id3v1_tags(payload: bytes) -> "dict | None":
    """Parse a trailing 128-byte ID3v1 block (None if absent):
    fixed-offset latin-1 fields; a v1.1 track number lives in the
    last two comment bytes (comment[28] == 0, comment[29] != 0)."""
    if len(payload) < 128:
        return None
    b = payload[-128:]
    if b[:3] != b"TAG":
        return None
    track = b[126] if b[125] == 0 and b[126] != 0 else None
    year = None
    ytxt = b[93:97].decode("latin-1", "replace")
    if ytxt.isdigit():
        year = int(ytxt)
    return {
        "source": "id3v1",
        "title": _id3v1_field(b[3:33]),
        "artist": _id3v1_field(b[33:63]),
        "album": _id3v1_field(b[63:93]),
        "year": year,
        "track_no": track,
        "n_frames": None,
        "tag_bytes": 128,
        "padding_bytes": None,
        "clean": 1,
    }


#: text frames surfaced as columns (first value wins); TYER is the
#: v2.3 year convention, TDRC its v2.4 replacement
_ID3_TEXT_IDS = ("TIT2", "TPE1", "TALB", "TYER", "TDRC", "TRCK")


def id3_tags(payload: bytes) -> dict:
    """Descriptive metadata from a leading ID3v2.3/v2.4 tag, falling
    back to a trailing ID3v1 block when no v2 tag leads the payload
    (the de-facto precedence: v2 supersedes v1).

    The v2 walk: header (major version, flags, syncsafe size) →
    optional extended header skipped (v2.3 non-syncsafe size
    EXCLUDES its own 4 size bytes; v2.4 syncsafe size INCLUDES
    itself) → frame headers until the first $00 frame id (padding)
    or the tag end. v2.3 sets unsynchronisation tag-wide (the whole
    body is de-unsynced before the walk, so frame sizes address the
    original bytes); v2.4 sets it per frame (flag bit $02, body
    de-unsynced after the optional $01 data-length indicator is
    skipped). Text frames (T***, excluding TXXX) decode by their
    encoding byte: $00 latin-1, $01 UTF-16 with BOM, $02 UTF-16BE,
    $03 UTF-8. A frame whose declared size runs past the tag end
    stops the walk with clean=0 (head-truncated crawl payload);
    everything already parsed is kept — the containment posture of
    mp3_metadata/mp4_metadata.

    Raises ValueError when the payload has neither tag — the
    strict=False extractor turns that into a parse_error row.
    Reference: engine-added (SURVEY.md §2.2 multimodal family);
    layouts from the public id3.org informal standards."""
    hdr_bytes = _id3v2_size(payload)
    if hdr_bytes == 0:
        v1 = id3v1_tags(payload)
        if v1 is None:
            raise ValueError("no ID3v1 or ID3v2 tag found")
        return v1
    major = payload[3]
    if major not in (3, 4):
        v1 = id3v1_tags(payload)
        if v1 is not None:
            return v1
        raise ValueError(f"unsupported ID3v2 major version {major}")
    flags = payload[5]
    clean = 1
    body_end = hdr_bytes - (10 if flags & 0x10 else 0)
    if body_end > len(payload):
        body_end = len(payload)
        clean = 0
    body = payload[10:body_end]
    if major == 3 and flags & 0x80:
        body = _id3_deunsync(body)
    pos = 0
    if flags & 0x40 and len(body) >= 4:  # extended header
        ext = int.from_bytes(body[:4], "big")
        if major == 4:
            ext_total = sum(
                (b & 0x7F) << s for b, s in zip(body[:4], (21, 14, 7, 0))
            )
        else:
            ext_total = 4 + ext
        pos = min(ext_total, len(body))
    n_frames = 0
    padding = 0
    texts: dict[str, str | None] = {}
    while pos + 10 <= len(body):
        fid = body[pos : pos + 4]
        if fid[0] == 0:
            padding = len(body) - pos
            break
        if not all(0x30 <= c <= 0x5A and (c <= 0x39 or c >= 0x41)
                   for c in fid):
            clean = 0
            break
        if major == 4:
            if any(b & 0x80 for b in body[pos + 4 : pos + 8]):
                clean = 0
                break
            fsize = sum(
                (b & 0x7F) << s
                for b, s in zip(body[pos + 4 : pos + 8], (21, 14, 7, 0))
            )
        else:
            fsize = int.from_bytes(body[pos + 4 : pos + 8], "big")
        fflags2 = body[pos + 9]
        fstart = pos + 10
        if fstart + fsize > len(body):
            clean = 0  # declared frame runs past the tag: truncated
            break
        fbody = body[fstart : fstart + fsize]
        if major == 4:
            if fflags2 & 0x01:  # data-length indicator precedes body
                fbody = fbody[4:]
            if fflags2 & 0x02:
                fbody = _id3_deunsync(fbody)
        n_frames += 1
        name = fid.decode("ascii")
        # Compressed/encrypted frame bodies (v2.3 format-flag bits
        # 0x80/0x40, v2.4 bits 0x08/0x04) are not text we can decode:
        # count the frame but skip extraction — the same count-and-
        # skip posture binary frames get (r13 ADVICE).
        if major == 4:
            opaque = bool(fflags2 & 0x0C)
        else:
            opaque = bool(fflags2 & 0xC0)
        # TXXX is excluded by the _ID3_TEXT_IDS allowlist (it carries
        # a user description + value pair, not a plain text body)
        if name in _ID3_TEXT_IDS and name not in texts and not opaque:
            texts[name] = _id3_text(fbody)
        pos = fstart + fsize
    else:
        # normal exit: fewer than 10 bytes left — a padding block
        # SHORTER than one frame header never enters the walk above
        # (found by the round-13 property test at padding=1). All-
        # zero tail = padding; a non-zero partial header = a cut.
        rest = body[pos:]
        if rest:
            if any(rest):
                clean = 0
            else:
                padding = len(rest)
    if n_frames == 0 and padding == 0:
        clean = 0
    return {
        "source": f"id3v2.{major}",
        "title": texts.get("TIT2"),
        "artist": texts.get("TPE1"),
        "album": texts.get("TALB"),
        "year": _id3_year(texts.get("TDRC") or texts.get("TYER")),
        "track_no": _id3_track(texts.get("TRCK")),
        "n_frames": n_frames,
        "tag_bytes": hdr_bytes,
        "padding_bytes": padding,
        "clean": clean,
    }


def _id3_unsync(data: bytes) -> bytes:
    """Apply ID3 unsynchronisation: insert $00 after every $FF."""
    return data.replace(b"\xff", b"\xff\x00")


def encode_id3v2(
    fields: "dict[str, str]",
    *,
    version: int = 3,
    enc: int = 0,
    padding: int = 0,
    unsync: bool = False,
    extra_frames: "tuple[tuple[str, bytes], ...]" = (),
) -> bytes:
    """Synthesize a complete ID3v2.3/v2.4 tag for fixtures — the
    inverse generator for ``id3_tags``. ``fields`` maps frame ids
    (TIT2/TPE1/...) to text values written with encoding byte
    ``enc`` (0 latin-1, 1 UTF-16+BOM, 2 UTF-16BE, 3 UTF-8);
    ``extra_frames`` appends raw (id, body) frames (e.g. a PRIV
    blob) so walkers prove they count-and-skip what they don't
    read. ``unsync`` exercises the two spec mechanisms: v2.3
    unsynchronises the WHOLE tag body (flag $80), v2.4 each frame
    (frame flag $02). Returns only the tag — callers append audio
    bytes (``encode_mp3_frames``) for a full payload."""
    if version not in (3, 4):
        raise ValueError("only ID3v2.3 and v2.4 are emitted")
    codec = _ID3_ENCODINGS[enc]

    def one(fid: str, body: bytes) -> bytes:
        fflags = 0
        if version == 4:
            if unsync:
                body = _id3_unsync(body)
                fflags = 0x02
            size = bytes(
                (len(body) >> s) & 0x7F for s in (21, 14, 7, 0)
            )
        else:
            size = len(body).to_bytes(4, "big")
        return fid.encode("ascii") + size + bytes([0, fflags]) + body

    frames = bytearray()
    for fid, text in fields.items():
        frames += one(fid, bytes([enc]) + text.encode(codec))
    for fid, body in extra_frames:
        frames += one(fid, body)
    tag_flags = 0
    body = bytes(frames)
    if unsync and version == 3:
        body = _id3_unsync(body)
        tag_flags |= 0x80
    body += b"\x00" * padding
    return (
        b"ID3"
        + bytes([version, 0, tag_flags])
        + bytes((len(body) >> s) & 0x7F for s in (21, 14, 7, 0))
        + body
    )


def encode_id3v1(
    title: str = "",
    artist: str = "",
    album: str = "",
    year: "int | None" = None,
    track: "int | None" = None,
) -> bytes:
    """The 128-byte trailing ID3v1 block (v1.1 when ``track`` is
    set) — append after the audio bytes."""

    def fix(s: str, n: int) -> bytes:
        b = s.encode("latin-1")[:n]
        return b + b"\x00" * (n - len(b))

    out = bytearray(b"TAG")
    out += fix(title, 30) + fix(artist, 30) + fix(album, 30)
    out += fix(str(year) if year is not None else "", 4)
    comment = bytearray(30)
    if track is not None:
        comment[28] = 0
        comment[29] = track & 0xFF
    out += comment
    out += b"\xff"  # genre: none
    return bytes(out)


#: tag columns emitted per payload, in schema order
_ID3_COLS = (
    ("source", "string"),
    ("title", "string"),
    ("artist", "string"),
    ("album", "string"),
    ("year", "int"),
    ("track_no", "int"),
    ("n_frames", "int"),
    ("tag_bytes", "bigint"),
    ("padding_bytes", "int"),
    ("clean", "int"),
)


def extract_id3_tags(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
) -> DataFrame:
    """One ``id3_tags`` row per payload, through ``per_payload``.
    ``strict=False`` contains payloads with no tag at all or an
    unsupported tag version."""
    return per_payload(
        media_df, lambda b: [id3_tags(b)], _ID3_COLS,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (ISO/IEC 14496-12) container metadata — METADATA
# ONLY, no codec decode. The box grammar is a public length-prefixed
# tree (size+fourcc headers, 64-bit largesize and to-EOF forms), so
# movie duration, track count, codec fourccs and frame dimensions are
# pure byte-walks over `moov`/`mvhd`/`trak`/`tkhd`/`mdia`/`mdhd`/
# `hdlr`/`stbl`/`stsd` — the metadata half a crawl pipeline needs for
# the dominant video container (dedupe by duration/dims, filter
# sub-second clips, route by codec) while actual sample decode stays
# behind the VIDEO_DECODERS/AUDIO_DECODERS registry seam.
# ---------------------------------------------------------------------------


def _mp4_boxes(payload: bytes, start: int, end: int):
    """Parse the ISO-BMFF box sequence in ``[start, end)``. Returns
    ``(boxes, clean)`` where each box is ``(type, body_start,
    body_end_declared)`` and ``clean`` is False when the final box
    (or its header) is cut short — a cut box is still reported with
    its DECLARED extent when its header was readable, so accounting
    columns (mdat bytes) survive head-truncated crawls. Handles the
    three public size forms: 32-bit, ``size==1`` + 64-bit largesize,
    and ``size==0`` (to end of enclosing scope). Raises ValueError on
    a size smaller than its own header (structurally corrupt)."""
    boxes = []
    pos = start
    while pos < end:
        if pos + 8 > end:
            return boxes, False
        size = int.from_bytes(payload[pos : pos + 4], "big")
        btype = bytes(payload[pos + 4 : pos + 8])
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                return boxes, False
            size = int.from_bytes(payload[pos + 8 : pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr:
            raise ValueError(
                f"corrupt ISO-BMFF box: size {size} < header at byte {pos}"
            )
        boxes.append((btype, pos + hdr, pos + size))
        if pos + size > end:
            return boxes, False
        pos += size
    return boxes, True


def _mp4_find(boxes, btype: bytes):
    """First child box of the given fourcc, or None."""
    for t, b0, b1 in boxes:
        if t == btype:
            return b0, b1
    return None


def mp4_metadata(payload: bytes) -> dict:
    """Walk an ISO-BMFF (MP4/M4A/MOV-style) container and return
    stream metadata with NO sample decode: major brand, movie
    timescale + integer duration_ms, track counts by handler, first
    video track's codec fourcc and pixel dimensions (tkhd 16.16
    fixed-point, integer part), first audio track's codec fourcc,
    declared mdat byte total, and a ``clean`` audit flag (0 when the
    final top-level box is cut — the head-truncation a crawl that
    kept file heads produces; metadata still parses when ``moov``
    precedes ``mdat``, the web-optimized layout).

    Raises ValueError when neither ``ftyp`` nor ``moov`` exists at
    the top level (not an ISO-BMFF payload) — ``strict=False``
    extraction contains that per-row. Version 0 and version 1
    (64-bit duration) ``mvhd``/``mdhd``/``tkhd`` layouts are both
    read; width/height come from the tkhd tail, which is
    version-invariant. All outputs are exact integers:
    duration_ms = duration * 1000 // timescale."""
    n = len(payload)
    top, clean = _mp4_boxes(payload, 0, n)
    major = None
    moov = None
    mdat_bytes = 0
    for btype, b0, b1 in top:
        if btype == b"ftyp" and major is None and b0 + 4 <= n:
            major = payload[b0 : b0 + 4].decode("latin-1").strip()
        elif btype == b"moov" and moov is None and b1 <= n:
            moov = (b0, b1)
        elif btype == b"mdat":
            mdat_bytes += b1 - b0  # declared, survives truncation
    if major is None and moov is None:
        raise ValueError("no ftyp/moov box found (not an ISO-BMFF payload)")

    def be32(off: int):
        return int.from_bytes(payload[off : off + 4], "big")

    def be64(off: int):
        return int.from_bytes(payload[off : off + 8], "big")

    timescale = duration_ms = None
    n_tracks = n_video = n_audio = 0
    video_codec = audio_codec = None
    width = height = None
    if moov is not None:
        children, _ = _mp4_boxes(payload, moov[0], moov[1])
        mvhd = _mp4_find(children, b"mvhd")
        if mvhd is not None:
            v = payload[mvhd[0]]
            p = mvhd[0] + 4  # past version/flags
            if v == 1:
                timescale = be32(p + 16)
                duration = be64(p + 20)
            else:
                timescale = be32(p + 8)
                duration = be32(p + 12)
            if timescale:
                duration_ms = duration * 1000 // timescale
        for btype, b0, b1 in children:
            if btype != b"trak":
                continue
            n_tracks += 1
            tk, _ = _mp4_boxes(payload, b0, b1)
            handler = codec = None
            tw = th = None
            tkhd = _mp4_find(tk, b"tkhd")
            if tkhd is not None:
                # width/height are the LAST 8 body bytes (16.16
                # fixed) in both the v0 and v1 layouts
                tw = be32(tkhd[1] - 8) >> 16
                th = be32(tkhd[1] - 4) >> 16
            mdia = _mp4_find(tk, b"mdia")
            if mdia is not None:
                md, _ = _mp4_boxes(payload, mdia[0], mdia[1])
                hdlr = _mp4_find(md, b"hdlr")
                if hdlr is not None:
                    handler = payload[hdlr[0] + 8 : hdlr[0] + 12]
                minf = _mp4_find(md, b"minf")
                if minf is not None:
                    mi, _ = _mp4_boxes(payload, minf[0], minf[1])
                    stbl = _mp4_find(mi, b"stbl")
                    if stbl is not None:
                        st, _ = _mp4_boxes(payload, stbl[0], stbl[1])
                        stsd = _mp4_find(st, b"stsd")
                        if stsd is not None and be32(stsd[0] + 4) >= 1:
                            codec = payload[
                                stsd[0] + 12 : stsd[0] + 16
                            ].decode("latin-1").strip()
            if handler == b"vide":
                n_video += 1
                if video_codec is None:
                    video_codec, width, height = codec, tw, th
            elif handler == b"soun":
                n_audio += 1
                if audio_codec is None:
                    audio_codec = codec
    return {
        "major_brand": major,
        "timescale": timescale,
        "duration_ms": duration_ms,
        "n_tracks": n_tracks,
        "n_video": n_video,
        "n_audio": n_audio,
        "video_codec": video_codec,
        "width": width,
        "height": height,
        "audio_codec": audio_codec,
        "mdat_bytes": mdat_bytes,
        "clean": int(clean),
    }


def encode_mp4_boxes(
    *,
    major_brand: str = "isom",
    timescale: int = 600,
    duration: int = 600,
    tracks: "tuple | list" = (),
    mdat_payload: bytes = b"",
    version: int = 0,
    use64: bool = False,
) -> bytes:
    """Synthesize a structurally valid ISO-BMFF container for
    fixtures: ``ftyp`` + ``moov`` (mvhd + one trak/tkhd/mdia/mdhd/
    hdlr/minf/stbl/stsd tree per track) + ``mdat``. The inverse
    fixture generator for ``mp4_metadata`` — NOT a muxer (mdat bytes
    are opaque, sample tables are minimal single-entry stsd boxes
    whose entry type is the codec fourcc).

    ``tracks``: dicts with keys ``handler`` ('vide'/'soun'),
    ``codec`` (fourcc), optional ``width``/``height`` (pixels, vide)
    and ``timescale``/``duration`` (default: the movie's).
    ``version=1`` emits the 64-bit mvhd/mdhd/tkhd layouts (same
    values — walkers must normalize). ``use64=True`` wraps moov and
    mdat in size==1 + largesize headers (the 64-bit box-size form)."""
    import struct as _s

    def box(t: str, body: bytes, big: bool = False) -> bytes:
        if big:
            return (
                (1).to_bytes(4, "big")
                + t.encode("ascii")
                + (16 + len(body)).to_bytes(8, "big")
                + body
            )
        return (8 + len(body)).to_bytes(4, "big") + t.encode("ascii") + body

    def fullbox(t: str, v: int, body: bytes) -> bytes:
        return box(t, bytes([v, 0, 0, 0]) + body)

    matrix = _s.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)

    def mvhd() -> bytes:
        if version == 1:
            head = _s.pack(">QQIQ", 0, 0, timescale, duration)
        else:
            head = _s.pack(">IIII", 0, 0, timescale, duration)
        tail = (
            _s.pack(">iHH", 0x10000, 0x0100, 0)
            + b"\x00" * 8
            + matrix
            + b"\x00" * 24
            + _s.pack(">I", len(tracks) + 1)
        )
        return fullbox("mvhd", version, head + tail)

    def trak(i: int, t: dict) -> bytes:
        tts = int(t.get("timescale", timescale))
        tdur = int(t.get("duration", duration))
        w = int(t.get("width", 0))
        h = int(t.get("height", 0))
        if version == 1:
            tk_head = _s.pack(">QQII", 0, 0, i + 1, 0) + _s.pack(">Q", tdur)
            md_head = _s.pack(">QQIQ", 0, 0, tts, tdur)
        else:
            tk_head = _s.pack(">IIII", 0, 0, i + 1, 0) + _s.pack(">I", tdur)
            md_head = _s.pack(">IIII", 0, 0, tts, tdur)
        tkhd = fullbox(
            "tkhd",
            version,
            tk_head
            + b"\x00" * 8
            + _s.pack(">HHHH", 0, 0, 0x0100, 0)
            + matrix
            + _s.pack(">II", w << 16, h << 16),
        )
        mdhd = fullbox("mdhd", version, md_head + _s.pack(">HH", 0x55C4, 0))
        hdlr = fullbox(
            "hdlr",
            0,
            b"\x00" * 4 + t["handler"].encode("ascii") + b"\x00" * 12 + b"\x00",
        )
        entry = box(t["codec"], b"\x00" * 6 + _s.pack(">H", 1))
        stsd = fullbox("stsd", 0, _s.pack(">I", 1) + entry)
        stbl = box("stbl", stsd)
        minf = box("minf", stbl)
        mdia = box("mdia", mdhd + hdlr + minf)
        return box("trak", tkhd + mdia)

    ftyp = box(
        "ftyp",
        major_brand.ljust(4).encode("ascii")[:4]
        + b"\x00" * 4
        + major_brand.ljust(4).encode("ascii")[:4],
    )
    moov_body = mvhd() + b"".join(trak(i, t) for i, t in enumerate(tracks))
    return (
        ftyp
        + box("moov", moov_body, big=use64)
        + box("mdat", mdat_payload, big=use64)
    )


#: metadata columns emitted per payload by ``extract_mp4_metadata``
_MP4_META_COLS = (
    ("major_brand", "string"),
    ("timescale", "bigint"),
    ("duration_ms", "bigint"),
    ("n_tracks", "int"),
    ("n_video", "int"),
    ("n_audio", "int"),
    ("video_codec", "string"),
    ("width", "int"),
    ("height", "int"),
    ("audio_codec", "string"),
    ("mdat_bytes", "bigint"),
    ("clean", "int"),
)


def extract_mp4_metadata(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
) -> DataFrame:
    """One ``mp4_metadata`` row per payload, through ``per_payload``.
    ``strict=False`` contains non-container payloads and corrupt box
    sizes."""
    return per_payload(
        media_df, lambda b: [mp4_metadata(b)], _MP4_META_COLS,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


# ---------------------------------------------------------------------------
# JPEG EXIF (stdlib-only): APP1/Exif TIFF-IFD byte-walk per the public
# EXIF 2.3 and TIFF 6.0 specs (CIPA DC-008 / Adobe 1992) — JPEG marker
# scan to the APP1 "Exif\0\0" segment, then IFD0 → Exif/GPS sub-IFDs
# with both byte orders ("II" little / "MM" big), SHORT/LONG/ASCII/
# RATIONAL value decoding, and inline-vs-offset value placement.
# Orientation matters to dedup semantics (a rotated duplicate pHashes
# differently until normalized); DateTimeOriginal / Make / Model / GPS
# are the routing fields a crawled-image pipeline keys on. No pixel
# decode — this is the x146/x147 one-scan metadata shape. GPS
# coordinates are returned as EXACT signed integer micro-degrees:
# udeg = sign * floor((deg + min/60 + sec/3600) * 1e6), computed with
# Fraction so arbitrary rational denominators stay exact.
# ---------------------------------------------------------------------------

_EXIF_TAG_MAKE = 0x010F
_EXIF_TAG_MODEL = 0x0110
_EXIF_TAG_ORIENTATION = 0x0112
_EXIF_TAG_XRESOLUTION = 0x011A
_EXIF_TAG_EXIF_IFD = 0x8769
_EXIF_TAG_GPS_IFD = 0x8825
_EXIF_TAG_DT_ORIGINAL = 0x9003
#: TIFF 6.0 field types → byte size per element (type 6/8 and the
#: 11/12 float types never carry the fields we read; unknown types
#: default to 1 so a corrupt type byte cannot explode the size math)
_EXIF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _exif_udeg(dms, sign: int) -> "int | None":
    """Signed micro-degrees from three (num, den) GPS rationals:
    ``sign * floor((d + m/60 + s/3600) * 1e6)`` — the magnitude is
    floored BEFORE the sign is applied (documented contract; the
    closed-form oracles mirror it). Exact via Fraction; a zero
    denominator returns None (field unreadable)."""
    from fractions import Fraction

    try:
        f = (
            Fraction(dms[0][0], dms[0][1])
            + Fraction(dms[1][0], dms[1][1]) / 60
            + Fraction(dms[2][0], dms[2][1]) / 3600
        ) * 1_000_000
    except ZeroDivisionError:
        return None
    return sign * (f.numerator // f.denominator)


def exif_metadata(payload: bytes) -> dict:
    """Walk a JPEG byte stream's marker segments to the APP1/Exif
    block and return camera metadata with NO pixel decode: TIFF byte
    order, Orientation, Make/Model, DateTimeOriginal (Exif sub-IFD),
    GPS latitude/longitude as exact signed micro-degrees (GPS
    sub-IFD; 'S'/'W' negative), the IFD0 entry count, and a ``clean``
    audit flag. ``has_exif`` stays 0 for a well-formed JPEG that
    simply carries no Exif APP1 (common; NOT an error row).

    Containment posture (x146's): raises ValueError only when the
    payload is not a JPEG at all (no SOI) — ``strict=False``
    extraction contains that per-row. Inside the TIFF block every
    read is bounds-checked against the APP1 segment: a truncated or
    lying layout yields None fields + clean=0, never an exception.
    ``clean`` also flips when the marker walk desyncs, the final
    segment is cut (the head-truncation a crawl that kept file heads
    produces), or the walk runs off the payload without meeting EOI
    or SOS (a segment length that swallows the EOI)."""
    n = len(payload)
    if n < 2 or payload[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI marker)")
    clean = 1
    tiff = None
    pos = 2
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            clean = 0  # marker walk desynced
            break
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        if pos + 4 > n:
            clean = 0
            break
        seglen = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if seglen < 2:
            clean = 0
            break
        segend = pos + 2 + seglen
        if segend > n:
            clean = 0  # declared segment runs past the payload: cut
            segend = n
        if (
            marker == 0xE1
            and tiff is None
            and payload[pos + 4 : pos + 10] == b"Exif\x00\x00"
        ):
            tiff = (pos + 10, segend)
        if marker == 0xDA:  # SOS: entropy-coded data follows
            break
        pos = segend
    else:
        clean = 0  # walk ran off the payload with no EOI or SOS
    out: dict = {
        "byte_order": None,
        "has_exif": 0,
        "orientation": None,
        "make": None,
        "model": None,
        "datetime_original": None,
        "gps_lat_udeg": None,
        "gps_lon_udeg": None,
        "n_ifd0_entries": None,
        "clean": clean,
    }
    if tiff is None:
        return out
    t0, t1 = tiff
    out["has_exif"] = 1
    bo = payload[t0 : t0 + 2]
    if bo == b"II":
        endian = "little"
    elif bo == b"MM":
        endian = "big"
    else:
        out["clean"] = 0
        return out
    out["byte_order"] = bo.decode("ascii")

    def num(off: int, size: int) -> "int | None":
        # TIFF offsets are relative to the byte-order mark (t0);
        # every read is bounded by the APP1 segment end
        a = t0 + off
        if off < 0 or a + size > t1:
            return None
        return int.from_bytes(payload[a : a + size], endian)

    def raw(off: int, size: int) -> "bytes | None":
        a = t0 + off
        if off < 0 or a + size > t1:
            return None
        return payload[a : a + size]

    if num(2, 2) != 42:  # TIFF magic
        out["clean"] = 0
        return out

    def read_ifd(off: "int | None"):
        """Entry table at ``off`` → ({tag: (type, count, value_off)},
        complete). value_off is the INLINE position when the value
        fits 4 bytes, else the offset the entry points at."""
        if off is None:
            return {}, False
        cnt = num(off, 2)
        if cnt is None:
            return {}, False
        entries: dict = {}
        for i in range(cnt):
            e = off + 2 + 12 * i
            tag = num(e, 2)
            typ = num(e + 2, 2)
            count = num(e + 4, 4)
            if tag is None or typ is None or count is None or num(e + 8, 4) is None:
                return entries, False  # entry table itself is cut
            size = _EXIF_TYPE_SIZES.get(typ, 1) * count
            voff = e + 8 if size <= 4 else num(e + 8, 4)
            entries[tag] = (typ, count, voff)
        return entries, True

    def ascii_val(ent) -> "str | None":
        if ent is None:
            return None
        typ, count, voff = ent
        if typ != 2 or voff is None or count < 1:
            return None
        b = raw(voff, count)
        if b is None:
            return None
        return b.split(b"\x00")[0].decode("latin-1") or None

    def int_val(ent) -> "int | None":
        if ent is None:
            return None
        typ, count, voff = ent
        if voff is None or count < 1:
            return None
        if typ == 3:
            return num(voff, 2)
        if typ == 4:
            return num(voff, 4)
        return None

    def rational3(ent):
        if ent is None:
            return None
        typ, count, voff = ent
        if typ != 5 or count != 3 or voff is None:
            return None
        vals = []
        for i in range(3):
            nu = num(voff + 8 * i, 4)
            de = num(voff + 8 * i + 4, 4)
            if nu is None or de is None:
                return None
            vals.append((nu, de))
        return vals

    ifd0, complete = read_ifd(num(4, 4))
    if not complete:
        out["clean"] = 0
    else:
        out["n_ifd0_entries"] = len(ifd0)
    out["make"] = ascii_val(ifd0.get(_EXIF_TAG_MAKE))
    out["model"] = ascii_val(ifd0.get(_EXIF_TAG_MODEL))
    out["orientation"] = int_val(ifd0.get(_EXIF_TAG_ORIENTATION))
    if _EXIF_TAG_EXIF_IFD in ifd0:
        sub, c2 = read_ifd(int_val(ifd0[_EXIF_TAG_EXIF_IFD]))
        if not c2:
            out["clean"] = 0
        out["datetime_original"] = ascii_val(sub.get(_EXIF_TAG_DT_ORIGINAL))
    if _EXIF_TAG_GPS_IFD in ifd0:
        gps, c3 = read_ifd(int_val(ifd0[_EXIF_TAG_GPS_IFD]))
        if not c3:
            out["clean"] = 0
        lat_ref = ascii_val(gps.get(0x0001))
        lat = rational3(gps.get(0x0002))
        lon_ref = ascii_val(gps.get(0x0003))
        lon = rational3(gps.get(0x0004))
        if lat is not None and lat_ref in ("N", "S"):
            out["gps_lat_udeg"] = _exif_udeg(lat, -1 if lat_ref == "S" else 1)
        if lon is not None and lon_ref in ("E", "W"):
            out["gps_lon_udeg"] = _exif_udeg(lon, -1 if lon_ref == "W" else 1)
    return out


def encode_exif(
    *,
    byte_order: str = "II",
    orientation: "int | None" = 1,
    make: "str | None" = None,
    model: "str | None" = None,
    datetime_original: "str | None" = None,
    gps: "tuple | None" = None,
    xresolution: "tuple[int, int] | None" = (72, 1),
    truncate_tiff_at: "int | None" = None,
) -> bytes:
    """Inverse fixture generator (x146/x147's pattern): build a JPEG
    marker stream SOI + APP1(Exif\\0\\0 + TIFF) + COM + EOI whose
    ``exif_metadata`` walk returns exactly the arguments. ``gps`` is
    ``(lat_dms, lat_ref, lon_dms, lon_ref)`` with each dms a
    3-tuple of (num, den) rationals. ``truncate_tiff_at=k`` keeps the
    APP1 header's DECLARED length but ends the whole payload after
    the first k TIFF bytes — the head-truncation case (clean=0, the
    byte-order mark still readable when k >= 2). Entries are emitted
    tag-sorted per TIFF 6.0; values wider than 4 bytes go to a shared
    data area after the last IFD."""
    little = byte_order == "II"
    endk = "little" if little else "big"

    def pk(v: int, size: int) -> bytes:
        return int(v).to_bytes(size, endk)

    def ascii_entry(tag: int, s: str):
        b = s.encode("latin-1") + b"\x00"
        return (tag, 2, len(b), b)

    def rat_entry(tag: int, rats):
        b = b"".join(pk(nu, 4) + pk(de, 4) for nu, de in rats)
        return (tag, 5, len(rats), b)

    exif_entries = []
    if datetime_original is not None:
        exif_entries.append(ascii_entry(_EXIF_TAG_DT_ORIGINAL, datetime_original))
    gps_entries = []
    if gps is not None:
        lat_dms, lat_ref, lon_dms, lon_ref = gps
        gps_entries = [
            ascii_entry(0x0001, lat_ref),
            rat_entry(0x0002, lat_dms),
            ascii_entry(0x0003, lon_ref),
            rat_entry(0x0004, lon_dms),
        ]
    ifd0 = []
    if make is not None:
        ifd0.append(ascii_entry(_EXIF_TAG_MAKE, make))
    if model is not None:
        ifd0.append(ascii_entry(_EXIF_TAG_MODEL, model))
    if orientation is not None:
        ifd0.append((_EXIF_TAG_ORIENTATION, 3, 1, pk(orientation, 2)))
    if xresolution is not None:
        ifd0.append(rat_entry(_EXIF_TAG_XRESOLUTION, [xresolution]))

    def ifd_size(entries) -> int:
        return 2 + 12 * len(entries) + 4

    n0 = len(ifd0) + (1 if exif_entries else 0) + (1 if gps_entries else 0)
    ifd0_off = 8
    pos = ifd0_off + 2 + 12 * n0 + 4
    exif_off = None
    if exif_entries:
        exif_off = pos
        pos += ifd_size(exif_entries)
        ifd0.append((_EXIF_TAG_EXIF_IFD, 4, 1, pk(exif_off, 4)))
    gps_off = None
    if gps_entries:
        gps_off = pos
        pos += ifd_size(gps_entries)
        ifd0.append((_EXIF_TAG_GPS_IFD, 4, 1, pk(gps_off, 4)))

    data = b""
    data_start = pos

    def ser_ifd(entries) -> bytes:
        nonlocal data
        body = pk(len(entries), 2)
        for tag, typ, count, pay in sorted(entries):
            body += pk(tag, 2) + pk(typ, 2) + pk(count, 4)
            if len(pay) <= 4:
                body += pay + b"\x00" * (4 - len(pay))
            else:
                body += pk(data_start + len(data), 4)
                data += pay
        return body + pk(0, 4)  # no next IFD

    blocks = [ser_ifd(ifd0)]
    if exif_entries:
        blocks.append(ser_ifd(exif_entries))
    if gps_entries:
        blocks.append(ser_ifd(gps_entries))
    tiff = (
        (b"II" if little else b"MM") + pk(42, 2) + pk(8, 4)
        + b"".join(blocks) + data
    )
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(app1_body) + 2).to_bytes(2, "big") + app1_body
    if truncate_tiff_at is not None:
        keep = 2 + 2 + 6 + truncate_tiff_at  # marker+len+Exif\0\0+k
        return b"\xff\xd8" + app1[:keep]
    com_body = b"fixture"
    com = b"\xff\xfe" + (len(com_body) + 2).to_bytes(2, "big") + com_body
    return b"\xff\xd8" + app1 + com + b"\xff\xd9"


_EXIF_COLS = (
    ("byte_order", "string"),
    ("has_exif", "int"),
    ("orientation", "int"),
    ("make", "string"),
    ("model", "string"),
    ("datetime_original", "string"),
    ("gps_lat_udeg", "bigint"),
    ("gps_lon_udeg", "bigint"),
    ("n_ifd0_entries", "int"),
    ("clean", "int"),
)


def extract_exif_metadata(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
) -> DataFrame:
    """One ``exif_metadata`` row per payload, through ``per_payload``.
    ``strict=False`` contains payloads that are not a JPEG at all.
    Corrupt Exif INSIDE a real JPEG never raises: it degrades to
    None fields + clean=0 (see ``exif_metadata``)."""
    return per_payload(
        media_df, lambda b: [exif_metadata(b)], _EXIF_COLS,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


# ---------------------------------------------------------------------------
# RIFF/WebP (stdlib-only): container walk per the public WebP
# container spec (developers.google.com/speed/webp/docs/riff_container)
# and the VP8 (RFC 6386 §9.1) / VP8L (WebP lossless bitstream spec)
# frame headers — fourcc chunks with little-endian sizes and even-byte
# padding, dimensions from the first image chunk: VP8 sync code
# 0x9D012A + two 14-bit LE fields, VP8L signature 0x2F + two 14-bit
# fields packed into one LE32, VP8X canvas as two 24-bit LE minus-one
# fields after the feature-flag byte. No pixel decode — the
# x146/x147/x148 one-scan metadata shape for the web's dominant
# crawled-image format.
# ---------------------------------------------------------------------------

_WEBP_FLAG_ICC = 0x20
_WEBP_FLAG_ALPHA = 0x10
_WEBP_FLAG_EXIF = 0x08
_WEBP_FLAG_XMP = 0x04
_WEBP_FLAG_ANIM = 0x02


def webp_metadata(payload: bytes) -> dict:
    """Walk a RIFF/WebP container and return image metadata with NO
    pixel decode: format ('vp8' lossy / 'vp8l' lossless / 'vp8x'
    extended), pixel dimensions (canvas dimensions for VP8X), the
    VP8X feature flags (alpha/anim/ICC/EXIF/XMP; VP8L's alpha bit for
    lossless), chunk count, the DECLARED RIFF byte size (survives
    truncation), and a ``clean`` audit flag (0 when a chunk's
    declared payload runs past the buffer — head truncation — or the
    declared RIFF size disagrees with the actual length).

    Raises ValueError when the RIFF/WEBP magic is absent (not a WebP
    payload) — ``strict=False`` extraction contains that per-row. A
    cut or corrupt chunk inside a real container never raises: it
    degrades to None fields + clean=0."""
    n = len(payload)
    if n < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WebP payload")
    riff_bytes = int.from_bytes(payload[4:8], "little")
    clean = 1
    if 8 + riff_bytes != n:
        clean = 0  # declared size disagrees with the actual buffer
    fmt = None
    width = height = None
    has_alpha = has_anim = has_icc = has_exif = has_xmp = 0
    n_chunks = 0
    pos = 12
    while pos + 8 <= n:
        fourcc = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body0 = pos + 8
        body1 = body0 + size
        n_chunks += 1
        cut = body1 > n
        if cut:
            clean = 0
        body = payload[body0 : min(body1, n)]
        if fourcc == b"VP8 " and fmt is None:
            fmt = "vp8"
            # RFC 6386 §9.1: 3-byte frame tag, sync 0x9D012A, then
            # two LE16s whose low 14 bits are width/height
            if len(body) >= 10 and body[3:6] == b"\x9d\x01\x2a":
                width = int.from_bytes(body[6:8], "little") & 0x3FFF
                height = int.from_bytes(body[8:10], "little") & 0x3FFF
            else:
                clean = 0
        elif fourcc == b"VP8L" and fmt is None:
            fmt = "vp8l"
            # signature 0x2F, then 14-bit width-1 / height-1 and the
            # alpha-is-used bit packed into the next LE32
            if len(body) >= 5 and body[0] == 0x2F:
                bits = int.from_bytes(body[1:5], "little")
                width = (bits & 0x3FFF) + 1
                height = ((bits >> 14) & 0x3FFF) + 1
                has_alpha = (bits >> 28) & 1
            else:
                clean = 0
        elif fourcc == b"VP8X" and fmt is None:
            fmt = "vp8x"
            # flags byte + 3 reserved + canvas W-1 / H-1 as 24-bit LE
            if len(body) >= 10:
                flags = body[0]
                has_icc = 1 if flags & _WEBP_FLAG_ICC else 0
                has_alpha = 1 if flags & _WEBP_FLAG_ALPHA else 0
                has_exif = 1 if flags & _WEBP_FLAG_EXIF else 0
                has_xmp = 1 if flags & _WEBP_FLAG_XMP else 0
                has_anim = 1 if flags & _WEBP_FLAG_ANIM else 0
                width = int.from_bytes(body[4:7], "little") + 1
                height = int.from_bytes(body[7:10], "little") + 1
            else:
                clean = 0
        if cut:
            break
        pos = body1 + (size & 1)  # chunks pad to even byte offsets
    if fmt is None:
        clean = 0
    return {
        "format": fmt,
        "width": width,
        "height": height,
        "has_alpha": has_alpha,
        "has_anim": has_anim,
        "has_icc": has_icc,
        "has_exif_chunk": has_exif,
        "has_xmp": has_xmp,
        "n_chunks": n_chunks,
        "riff_bytes": riff_bytes,
        "clean": clean,
    }


def encode_webp(
    *,
    fmt: str = "vp8",
    width: int = 1,
    height: int = 1,
    alpha: bool = False,
    anim: bool = False,
    icc: bool = False,
    exif: bool = False,
    xmp: bool = False,
    truncate_after_chunk_header: bool = False,
) -> bytes:
    """Inverse fixture generator (x146/x147/x148's pattern): build a
    RIFF/WebP container whose ``webp_metadata`` walk returns exactly
    the arguments. ``fmt='vp8'``/``'vp8l'`` emit a single image chunk
    with the real dimension encoding (VP8 limited to 14-bit dims);
    ``fmt='vp8x'`` emits a VP8X header chunk (flags + 24-bit canvas),
    an odd-sized EXIF chunk when ``exif`` (exercising the even-byte
    pad rule), and a VP8 image chunk. Image payloads carry a filler
    body after the header — the walker must not read past the fields
    the spec defines. ``truncate_after_chunk_header`` keeps the
    DECLARED RIFF size but ends the payload right after the first
    chunk's fourcc+size — the head-truncation case (clean=0, format
    readable, dimensions not)."""

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return (
            fourcc + len(body).to_bytes(4, "little") + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    if fmt == "vp8":
        body = (
            b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + (width & 0x3FFF).to_bytes(2, "little")
            + (height & 0x3FFF).to_bytes(2, "little")
            + b"\xaa" * 20
        )
        chunks = chunk(b"VP8 ", body)
    elif fmt == "vp8l":
        bits = (width - 1) | ((height - 1) << 14) | (int(alpha) << 28)
        chunks = chunk(
            b"VP8L", b"\x2f" + bits.to_bytes(4, "little") + b"\xbb" * 25
        )
    elif fmt == "vp8x":
        flags = (
            (_WEBP_FLAG_ICC if icc else 0)
            | (_WEBP_FLAG_ALPHA if alpha else 0)
            | (_WEBP_FLAG_EXIF if exif else 0)
            | (_WEBP_FLAG_XMP if xmp else 0)
            | (_WEBP_FLAG_ANIM if anim else 0)
        )
        vp8x = bytes([flags]) + b"\x00\x00\x00" \
            + (width - 1).to_bytes(3, "little") \
            + (height - 1).to_bytes(3, "little")
        chunks = chunk(b"VP8X", vp8x)
        if exif:
            chunks += chunk(b"EXIF", b"exifdata0")  # odd: pad byte
        chunks += chunk(
            b"VP8 ",
            b"\x00\x00\x00\x9d\x01\x2a"
            + (width & 0x3FFF).to_bytes(2, "little")
            + (height & 0x3FFF).to_bytes(2, "little")
            + b"\xaa" * 20,
        )
    else:
        raise ValueError(f"unknown webp fmt {fmt!r}")
    full = b"WEBP" + chunks
    out = b"RIFF" + len(full).to_bytes(4, "little") + full
    if truncate_after_chunk_header:
        return out[: 12 + 8]
    return out


_WEBP_COLS = (
    ("format", "string"),
    ("width", "int"),
    ("height", "int"),
    ("has_alpha", "int"),
    ("has_anim", "int"),
    ("has_icc", "int"),
    ("has_exif_chunk", "int"),
    ("has_xmp", "int"),
    ("n_chunks", "int"),
    ("riff_bytes", "bigint"),
    ("clean", "int"),
)


def extract_webp_metadata(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
) -> DataFrame:
    """One ``webp_metadata`` row per payload, through ``per_payload``.
    ``strict=False`` contains non-WebP blobs."""
    return per_payload(
        media_df, lambda b: [webp_metadata(b)], _WEBP_COLS,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


# ---------------------------------------------------------------------------
# PNG ancillary metadata (stdlib-only): chunk walk per the public PNG
# spec (W3C/ISO 15948) — IHDR structural fields, the three text chunk
# forms (tEXt latin-1, zTXt zlib-compressed, iTXt UTF-8 with optional
# compression + language/translated-keyword headers), gAMA, and a
# per-chunk CRC32 audit. Complements decode_png (pixels) the way the
# EXIF walker complements decode_jpeg: crawled PNGs carry provenance
# (Software, Author, Title) and color intent in ancillary chunks, and
# a pipeline wants them WITHOUT inflating IDAT.
# ---------------------------------------------------------------------------

_PNG_TEXT_KEYWORDS = ("Title", "Author", "Description", "Software")


def png_text_metadata(payload: bytes) -> dict:
    """Walk a PNG chunk stream and return structural + textual
    metadata with NO pixel decode: IHDR width/height/bit-depth/color
    type, the standard Title/Author/Description/Software text values
    (first occurrence wins, any of the three text chunk forms), the
    gAMA value (gamma * 100000, exact integer), chunk counts, a
    CRC32 audit count, and a ``clean`` flag (0 on truncation, a
    failed CRC, a missing IHDR, or a missing IEND).

    Raises ValueError when the 8-byte PNG signature is absent —
    ``strict=False`` extraction contains that per-row. Corrupt
    chunks inside a real PNG never raise: a bad CRC still yields the
    chunk's text (extraction and audit are separate concerns — a
    single flipped bit shouldn't hide an otherwise-readable
    provenance field), an undecompressable zTXt/iTXt body yields
    None, and every read is bounds-checked."""
    n = len(payload)
    if n < 8 or payload[0:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload (no signature)")
    width = height = bit_depth = color_type = None
    gamma_scaled = None
    texts: dict = {}
    n_chunks = n_text = n_crc_bad = 0
    seen_ihdr = seen_iend = False
    clean = 1
    pos = 8
    while pos + 8 <= n:
        clen = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        n_chunks += 1
        if pos + 12 + clen > n:
            clean = 0  # declared chunk runs past the payload: cut
            break
        body = payload[pos + 8 : pos + 8 + clen]
        crc = int.from_bytes(payload[pos + 8 + clen : pos + 12 + clen], "big")
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            n_crc_bad += 1
            clean = 0
        if ctype == b"IHDR" and not seen_ihdr:
            seen_ihdr = True
            if clen >= 10:
                width = int.from_bytes(body[0:4], "big")
                height = int.from_bytes(body[4:8], "big")
                bit_depth = body[8]
                color_type = body[9]
            else:
                clean = 0
        elif ctype == b"gAMA" and clen >= 4:
            gamma_scaled = int.from_bytes(body[0:4], "big")
        elif ctype == b"tEXt":
            n_text += 1
            kw, _, val = body.partition(b"\x00")
            texts.setdefault(
                kw.decode("latin-1"), val.decode("latin-1")
            )
        elif ctype == b"zTXt":
            n_text += 1
            kw, _, rest = body.partition(b"\x00")
            val = None
            if rest[:1] == b"\x00":  # compression method 0 = zlib
                try:
                    val = zlib.decompress(rest[1:]).decode("latin-1")
                except zlib.error:
                    clean = 0
            else:
                # unknown compression method byte: the text is just as
                # unreadable as a failed decompression — same audit
                # posture (count the chunk, flip clean, keep walking)
                clean = 0
            if val is not None:
                texts.setdefault(kw.decode("latin-1"), val)
        elif ctype == b"iTXt":
            n_text += 1
            kw, _, rest = body.partition(b"\x00")
            if len(rest) >= 2:
                comp_flag, comp_method = rest[0], rest[1]
                rest2 = rest[2:]
                _lang, _, rest3 = rest2.partition(b"\x00")
                _trans, _, raw_val = rest3.partition(b"\x00")
                val = None
                if comp_flag == 0:
                    val = raw_val.decode("utf-8", errors="replace")
                elif comp_method == 0:
                    try:
                        val = zlib.decompress(raw_val).decode(
                            "utf-8", errors="replace"
                        )
                    except zlib.error:
                        clean = 0
                else:
                    # compressed with an unsupported method: same
                    # audit posture as a failed decompression
                    clean = 0
                if val is not None:
                    texts.setdefault(kw.decode("latin-1"), val)
        elif ctype == b"IEND":
            seen_iend = True
            pos += 12 + clen
            break
        pos += 12 + clen
    if not seen_ihdr or not seen_iend:
        clean = 0
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "title": texts.get("Title"),
        "author": texts.get("Author"),
        "description": texts.get("Description"),
        "software": texts.get("Software"),
        "gamma_scaled": gamma_scaled,
        "n_chunks": n_chunks,
        "n_text_chunks": n_text,
        "n_crc_bad": n_crc_bad,
        "clean": clean,
    }


_PNG_IDAT_BODY = zlib.compress(b"\x00\x00")


def encode_png_text(
    *,
    width: int = 1,
    height: int = 1,
    bit_depth: int = 8,
    color_type: int = 2,
    texts: "tuple[tuple[str, str, str], ...]" = (),
    gamma_scaled: "int | None" = None,
    corrupt_crc: bool = False,
    truncate_mid_chunk: bool = False,
) -> bytes:
    """Inverse fixture generator (x146-x149's pattern): build a PNG
    chunk stream whose ``png_text_metadata`` walk returns exactly
    the arguments. ``texts`` is a tuple of (keyword, value, form)
    with form one of 'tEXt' (latin-1), 'zTXt' (zlib body), 'iTXt'
    (UTF-8, compressed when the keyword sorts odd — both branches
    exercised deterministically). ``corrupt_crc`` flips one bit of
    the FIRST text chunk's CRC (extraction still works, audit
    counts it); ``truncate_mid_chunk`` ends the payload inside the
    first text chunk's declared body (IHDR intact, clean=0). A
    minimal IDAT keeps the layout realistic; no pixel semantics are
    claimed, so its body is one fixed deflate stream whatever
    ``width`` is (a width-sized scanline would allocate 2 GiB at the
    2^31-1 widths the IHDR field allows)."""
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes([bit_depth, color_type, 0, 0, 0])
    )
    out = [b"\x89PNG\r\n\x1a\n", _png_chunk(b"IHDR", ihdr)]
    if gamma_scaled is not None:
        out.append(_png_chunk(b"gAMA", gamma_scaled.to_bytes(4, "big")))
    text_chunks = []
    for kw, val, form in texts:
        k = kw.encode("latin-1")
        if form == "tEXt":
            text_chunks.append(_png_chunk(b"tEXt", k + b"\x00" + val.encode("latin-1")))
        elif form == "zTXt":
            text_chunks.append(
                _png_chunk(
                    b"zTXt",
                    k + b"\x00\x00" + zlib.compress(val.encode("latin-1")),
                )
            )
        elif form == "iTXt":
            compressed = (sum(k) % 2) == 1
            raw = val.encode("utf-8")
            body = (
                k + b"\x00"
                + bytes([1 if compressed else 0, 0])
                + b"\x00\x00"  # empty language + translated keyword
                + (zlib.compress(raw) if compressed else raw)
            )
            text_chunks.append(_png_chunk(b"iTXt", body))
        else:
            raise ValueError(f"unknown text chunk form {form!r}")
    if corrupt_crc and text_chunks:
        c = bytearray(text_chunks[0])
        c[-1] ^= 0x01
        text_chunks[0] = bytes(c)
    out.extend(text_chunks)
    out.append(_png_chunk(b"IDAT", _PNG_IDAT_BODY))
    out.append(_png_chunk(b"IEND", b""))
    payload = b"".join(out)
    if truncate_mid_chunk and text_chunks:
        head_len = len(out[0]) + len(out[1]) + (
            len(_png_chunk(b"gAMA", b"\x00" * 4)) if gamma_scaled is not None else 0
        )
        return payload[: head_len + 8 + 2]  # 8-byte chunk header + 2
    return payload


_PNG_TEXT_COLS = (
    ("width", "int"),
    ("height", "int"),
    ("bit_depth", "int"),
    ("color_type", "int"),
    ("title", "string"),
    ("author", "string"),
    ("description", "string"),
    ("software", "string"),
    ("gamma_scaled", "bigint"),
    ("n_chunks", "int"),
    ("n_text_chunks", "int"),
    ("n_crc_bad", "int"),
    ("clean", "int"),
)


def extract_png_text_metadata(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
) -> DataFrame:
    """One ``png_text_metadata`` row per payload, through
    ``per_payload``. ``strict=False`` contains non-PNG blobs."""
    return per_payload(
        media_df, lambda b: [png_text_metadata(b)], _PNG_TEXT_COLS,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


# ---------------------------------------------------------------------------
# GIF (stdlib-only): LZW decompression per the public GIF89a spec
# (CompuServe 1990, https://www.w3.org/Graphics/GIF/spec-gif89a.txt)
# — variable-width codes packed LSB-first, clear/EOI codes, 12-bit
# dictionary cap, optional Adam-style 4-pass row interlace. Decoder
# reads any sequential/interlaced 87a/89a still (first frame; GCE and
# other extensions skipped); encoder emits GIF89a with an exact
# palette, so decode(encode(px)) == px whenever the image has <= 256
# distinct colors — the same independent round-trip contract the
# PNG/JPEG codecs test against.
# ---------------------------------------------------------------------------


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    clear = 1 << min_code_size
    eoi = clear + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    code_size = min_code_size + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                return out  # missing EOI: tolerate truncated streams
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + (prev[0],)  # the cScSc case
        else:
            raise ValueError(f"corrupt GIF LZW stream: code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


def _gif_lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    prefix: tuple[int, ...] = ()
    for k in indices:
        cand = prefix + (k,)
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], code_size)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << code_size) and code_size < 12:
                # the code just ASSIGNED is the first needing a wider
                # field; the decoder widens after SEEING it, so the
                # encoder widens after assigning it
                code_size += 1
        else:
            emit(clear, code_size)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        prefix = (k,)
    if prefix:
        emit(table[prefix], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_row_order(h: int, interlaced: bool) -> list[int]:
    if not interlaced:
        return list(range(h))
    return [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, h, step)]


def decode_gif(payload: bytes) -> np.ndarray:
    """First frame of a GIF87a/GIF89a payload as (h, w, 3) uint8 RGB
    (global/local color tables, sub-block reassembly, interlace)."""
    if payload[:4] != b"GIF8" or payload[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF87a/GIF89a payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-blocks, all skipped
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            _lx, _ty, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF image has no color table")
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _gif_lzw_decode(bytes(data), mcs)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data underrun")
            arr = np.asarray(idx[: w * h], dtype=np.int64).reshape(h, w)
            rows = np.empty((h, w), dtype=np.int64)
            rows[_gif_row_order(h, bool(iflags & 0x40)), :] = arr
            return ct[rows.clip(0, len(ct) - 1)].astype(np.uint8)
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError("GIF contains no image data")


def decode_gif_frames(payload: bytes) -> list[np.ndarray]:
    """EVERY frame of an animated GIF89a, composed per the spec's
    graphic-control semantics, each as a full-canvas (h, w, 3) uint8
    RGB array — the real second motion format beside MJPEG-AVI
    (``decode_gif`` returns only the first image, uncomposed).

    Composition implements what animation actually requires:

    - frames render at their (left, top) offset onto the LOGICAL
      SCREEN canvas (partial-update frames are the norm — encoders
      ship only the changed rect);
    - Graphic Control Extension TRANSPARENCY (flagged index leaves
      the underlying canvas pixel) — how inter-frame deltas encode
      "unchanged";
    - DISPOSAL methods: 0/1 leave the composite, 2 restores the
      frame's rect to the background color, 3 restores the canvas to
      its pre-frame state (the "flash a sprite" mode).

    The canvas starts as the global background color (black when the
    header declares no global table) — deterministic, so the frame
    list is a pure function of the payload."""
    if payload[:4] != b"GIF8" or payload[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF87a/GIF89a payload")
    sw, sh, flags, bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    bg_rgb = (
        gct[bg].astype(np.uint8)
        if gct is not None and bg < len(gct)
        else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    frames: list[np.ndarray] = []
    disposal, tflag, tidx = 0, False, 0
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and payload[pos] >= 4:
                packed, _delay, ti = struct.unpack_from("<BHB", payload, pos + 1)
                disposal = (packed >> 2) & 0x07
                tflag = bool(packed & 0x01)
                tidx = ti
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:
            lx, ty, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF image has no color table")
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(bytes(data), mcs)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data underrun")
            arr = np.asarray(idx[: w * h], dtype=np.int64).reshape(h, w)
            rows = np.empty((h, w), dtype=np.int64)
            rows[_gif_row_order(h, bool(iflags & 0x40)), :] = arr
            before = canvas.copy() if disposal == 3 else None
            rect = canvas[ty : ty + h, lx : lx + w]
            rgb = ct[rows.clip(0, len(ct) - 1)].astype(np.uint8)
            if tflag:
                opaque = rows != tidx
                rect[opaque] = rgb[opaque]
            else:
                rect[:, :] = rgb
            frames.append(canvas.copy())
            if disposal == 2:
                canvas[ty : ty + h, lx : lx + w] = bg_rgb
            elif disposal == 3:
                canvas = before
            disposal, tflag, tidx = 0, False, 0  # GCE scopes one image
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


def _gif_video_adapter(payload: bytes) -> list[bytes]:
    """Animated GIF → standalone per-frame payloads for the video
    registry (BMP: composed frames can exceed 256 distinct colors, so
    re-encoding as GIF could legitimately refuse)."""
    return [encode_bmp(f) for f in decode_gif_frames(payload)]


def encode_gif(pixels: np.ndarray, interlaced: bool = False) -> bytes:
    """GIF89a from (h, w, 3) uint8 RGB with an EXACT palette (<= 256
    distinct colors required — lossless round-trip by construction;
    quantization is a modeling choice this codec refuses to hide)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_gif wants (h, w, 3) RGB")
    h, w = pixels.shape[:2]
    flat = pixels.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"encode_gif is exact-palette only: {len(colors)} colors")
    cbits = max(1, int(len(colors) - 1).bit_length())
    n = 1 << cbits
    palette = np.zeros((n, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    idx = inverse.reshape(h, w)
    order = _gif_row_order(h, interlaced)
    stream = idx[order, :].reshape(-1).tolist()
    mcs = max(2, cbits)
    lzw = _gif_lzw_encode(stream, mcs)
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | (cbits - 1), 0, 0)
    out += palette.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0)
    out.append(mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


# ---------------------------------------------------------------------------
# MJPEG-in-AVI (stdlib-only): the RIFF container per the public AVI
# spec (Microsoft "AVI RIFF File Reference") around the JPEG codec
# above — which makes VIDEO frame sampling real in this container:
# decode_avi_mjpeg walks RIFF chunks and returns each '00dc' frame's
# JPEG bytes; encode_avi_mjpeg writes a spec-complete (playable)
# file: avih main header, one 'vids'/'MJPG' stream with strh/strf
# BITMAPINFOHEADER, word-aligned movi chunks, and an idx1 index.
# ---------------------------------------------------------------------------


def decode_avi_mjpeg(payload: bytes) -> list[bytes]:
    """All video frames of an MJPEG AVI as raw JPEG payloads (chunks
    'NNdc'/'NNdb' inside LIST 'movi', where NN are the stream ids the
    hdrl declares as 'vids'; word alignment respected). Matching the
    declared VIDEO stream ids — not just the dc/db suffix — keeps a
    multi-stream AVI (e.g. an audio stream, or a second video stream
    in a foreign codec) from interleaving foreign chunks into the
    returned frame list. Files with no parseable hdrl fall back to
    stream '00' (the first stream — where single-stream muxers put
    their video)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    frames: list[bytes] = []
    strh_types: list[bytes] = []  # fccType per stream, in strl order

    def walk(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body = pos + 8
            if fourcc == b"LIST":
                walk(body + 4, body + size)  # skip the list type fourcc
            elif fourcc == b"strh":
                strh_types.append(payload[body : body + 4])
            pos = body + size + (size & 1)  # chunks are word-aligned

    # pass 1: headers only — stream N's type is the Nth strh's fccType
    walk(12, len(payload))
    vids = {
        f"{i:02d}".encode()
        for i, t in enumerate(strh_types)
        if t == b"vids"
    } or {b"00"}

    def collect(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body = pos + 8
            if fourcc == b"LIST":
                collect(body + 4, body + size)
            elif fourcc[2:4] in (b"dc", b"db") and fourcc[:2] in vids:
                frames.append(payload[body : body + size])
            pos = body + size + (size & 1)

    collect(12, len(payload))
    if not frames:
        raise ValueError("AVI contains no video frames")
    return frames


def encode_avi_mjpeg(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Spec-complete MJPEG AVI from (h, w, 3) uint8 RGB frames (each
    encoded by ``encode_jpeg``): avih + 'vids'/'MJPG' strh/strf,
    word-aligned '00dc' movi chunks, idx1 index."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("all frames must share one size")
    jpegs = [encode_jpeg(f) for f in frames]
    maxsz = max(len(j) for j in jpegs)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(four: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", four + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps, maxsz * fps, 0, 0x10,  # usec/frame, bytes/sec, pad, HASINDEX
        len(jpegs), 0, 1, maxsz, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, fps, 0, len(jpegs), maxsz, -1, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = lst(b"movi", movi_body)
    idx, off = [], 4  # offsets are relative to the start of 'movi'+4
    for j in jpegs:
        idx.append(b"00dc" + struct.pack("<III", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) & 1)
    idx1 = chunk(b"idx1", b"".join(idx))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_image(payload: bytes, mime: str = "image/bmp") -> np.ndarray:
    """Decode an image payload to an (h, w, 3) uint8 RGB array.

    Real for uncompressed 24-bpp BMP, 8-bit non-interlaced PNG,
    baseline sequential + progressive JPEG, and GIF87a/89a including
    interlace (stdlib decoders above). Other formats
    need codec libraries not present in this container — swap the
    fallback for PIL/torchvision in a full environment."""
    # content magic wins over the mime hint (callers often pass the
    # default mime; the three container signatures are unambiguous)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload.startswith(_PNG_SIG):
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:4] == b"GIF8":
        return decode_gif(payload)
    dec = IMAGE_DECODERS.get(mime)
    if dec is not None:
        return dec(payload)
    raise NotImplementedError(
        f"no decoder registered for {mime!r}; register one with "
        f"IMAGE_DECODERS[{mime!r}] = your_decoder (payload -> "
        "(h, w, 3) uint8 RGB) — e.g. a PIL/torchvision wrapper in a "
        "full environment"
    )


def _fake_feature(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic fake 'embedding' of a binary payload (md5-seeded)
    standing in for the stubbed decode→featurize kernel."""
    h = hashlib.md5(payload).digest()
    return [(h[i % 16] / 255.0) * 2 - 1 for i in range(dims)]


def _pixel_feature(pixels: np.ndarray, dims: int = 8) -> list[float]:
    """Real image feature from decoded pixels: per-channel means,
    luma std, and quadrant luma means, all scaled to [-1, 1] — the
    shape of a cheap perceptual descriptor, computed with actual
    pixel math (vectorized numpy).

    ORIENTATION CAVEAT (r13 verdict item 4): the quadrant terms are
    NOT rotation-invariant — a camera-rotated duplicate (EXIF
    Orientation 2-8, common in crawled JPEG corpora) permutes the
    quadrant means and lands a different descriptor, so near-dup
    clustering over raw payloads treats rotated copies as distinct.
    Normalize BEFORE featurizing: read ``exif_metadata(payload)
    ["orientation"]`` (one byte-walk, no decode) and apply the
    inverse transform (np.rot90 / fliplr on the decoded array) for
    values != 1. The same applies to any pHash variant built on
    fixed pixel-position terms."""
    px = pixels.astype(np.float64)
    luma = px @ np.array([0.299, 0.587, 0.114])
    h, w = luma.shape
    qs = [
        luma[: max(h // 2, 1), : max(w // 2, 1)].mean(),
        luma[: max(h // 2, 1), w // 2 :].mean() if w > 1 else luma.mean(),
        luma[h // 2 :, : max(w // 2, 1)].mean() if h > 1 else luma.mean(),
        luma[h // 2 :, w // 2 :].mean() if h > 1 and w > 1 else luma.mean(),
    ]
    feats = [
        px[:, :, 0].mean(), px[:, :, 1].mean(), px[:, :, 2].mean(),
        float(luma.std()), *qs,
    ]
    out = [(f / 255.0) * 2 - 1 for f in feats]
    return [float(out[i % len(out)]) for i in range(dims)]


def normalize_orientation(pixels: np.ndarray, orientation: "int | None") -> np.ndarray:
    """Undo an EXIF Orientation tag (1-8) on a decoded (h, w[, c])
    pixel array so rotated/mirrored duplicates featurize identically
    — the concrete fix for the caveat on ``_pixel_feature``. Mapping
    per the EXIF 2.3 table (value = how the STORED image must be
    transformed to display upright):

      1 = as-is                     5 = transpose (flip + rot270)
      2 = flip horizontal           6 = rotate 90 CW
      3 = rotate 180                7 = transverse (flip + rot90)
      4 = flip vertical             8 = rotate 90 CCW

    None or out-of-range values pass through unchanged (a crawled
    corpus carries plenty of absent/garbage tags; pHash of the
    as-stored bytes is still well-defined). Pure numpy views — no
    copy unless the caller mutates."""
    if orientation == 2:
        return pixels[:, ::-1]
    if orientation == 3:
        return pixels[::-1, ::-1]
    if orientation == 4:
        return pixels[::-1, :]
    if orientation == 5:
        return np.rot90(pixels[:, ::-1], 1)
    if orientation == 6:
        return np.rot90(pixels, -1)
    if orientation == 7:
        return np.rot90(pixels[:, ::-1], -1)
    if orientation == 8:
        return np.rot90(pixels, 1)
    return pixels


def _resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample (pure numpy index math)."""
    h, w = pixels.shape[:2]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return pixels[rows][:, cols]


#: Pluggable DECODER REGISTRIES — the ``FORMAT_REDUCERS`` shape for
#: media (r8 verdict #8): users inject a codec for a mime type
#: without editing this module, and every Spark-side kernel
#: (``decode_image``, ``extract_features``, ``sample_frames``) picks
#: it up. Contracts:
#:
#: - ``IMAGE_DECODERS[mime](payload) -> (h, w, 3) uint8 RGB ndarray``
#: - ``AUDIO_DECODERS[mime](payload) -> (rate, int16 samples ndarray)``
#:   (what an ``audio/mpeg`` MP3 decoder — e.g. a pydub/ffmpeg
#:   wrapper — plugs into; this container ships none, so MP3 stays a
#:   fake UNLESS a decoder is registered)
#: - ``VIDEO_DECODERS[mime](payload) -> list of standalone image
#:   payloads`` (one per frame, decodable by ``decode_image``)
#:
#: Registered callables are captured into ``mapInPandas`` closures by
#: cloudpickle, so they must be picklable (module-level functions and
#: lambdas both are; an open ffmpeg handle is not — wrap lazily).
IMAGE_DECODERS: dict[str, "Callable[[bytes], np.ndarray]"] = {
    "image/bmp": decode_bmp,
    "image/png": decode_png,
    "image/jpeg": decode_jpeg,
    "image/gif": decode_gif,
}
AUDIO_DECODERS: dict[str, "Callable[[bytes], tuple[int, np.ndarray]]"] = {
    "audio/wav": decode_wav,
}
VIDEO_DECODERS: dict[str, "Callable[[bytes], list[bytes]]"] = {
    "video/x-msvideo": decode_avi_mjpeg,
    # animated GIF is a motion format: sample_frames gets the real
    # composed animation; extract_features keeps the image semantics
    # (first frame) because IMAGE_DECODERS matches image/gif first
    "image/gif": _gif_video_adapter,
}


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Manufacture a deterministic binary payload column from text —
    exercises BinaryType end-to-end without real media files."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(id_col).cast("int").alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
    )


def extract_features(media_df: DataFrame, dims: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched: each pandas chunk holds whole payloads — the real
    pattern for image embedding/resampling jobs. The kernel here is
    the deterministic fake; the batch shape, schema contract, and
    partition behavior are the real thing.
    """

    def featurize(mime: str, payload: bytes) -> list[float]:
        # Real decode paths resolve through the pluggable registries
        # (stdlib BMP/PNG/JPEG/GIF/WAV/MJPEG-AVI built in; users
        # register e.g. audio/mpeg or video/mp4 codecs); deterministic
        # fake for anything unregistered.
        dec = IMAGE_DECODERS.get(mime)
        if dec is not None:
            return _pixel_feature(dec(payload), dims)
        adec = AUDIO_DECODERS.get(mime)
        if adec is not None:
            return _audio_feature(*adec(payload), dims)
        vdec = VIDEO_DECODERS.get(mime)
        if vdec is not None:
            js = vdec(payload)
            return _pixel_feature(decode_image(js[len(js) // 2]), dims)
        return _fake_feature(payload, dims)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "digest": pdf["payload"].map(lambda b: hashlib.md5(b).hexdigest()),
                    "feature": [
                        featurize(m, b)
                        for m, b in zip(pdf["mime"], pdf["payload"])
                    ],
                }
            )
            yield out

    return media_df.mapInPandas(kernel, FEATURE_SCHEMA)


def resize_media(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: same MEDIA_SCHEMA in and out, target dims in
    the metadata, payload rewritten by the kernel.

    BMP and PNG payloads are REALLY resized — decode (stdlib
    parsers) → nearest-neighbor resample (numpy index math) →
    re-encode in the same container format. NOTE: decode normalizes
    to RGB, so an RGBA input comes back as an RGB PNG — the alpha
    plane does not survive the round trip (decode_png documents the
    drop); alpha-preserving resize needs a 4-channel decode path.
    Formats this container can't decode fall back to the
    deterministic fake (md5 of the original + target dims); schema
    contract, Arrow batch shape and scan-stage (no shuffle) behavior
    are identical on both paths.
    """

    def resize_one(mime: str, payload: bytes) -> bytes:
        if mime == "image/bmp":
            return encode_bmp(_resize_nearest(decode_bmp(payload), width, height))
        if mime == "image/png":
            return encode_png(_resize_nearest(decode_png(payload), width, height))
        if mime == "image/jpeg":
            return encode_jpeg(_resize_nearest(decode_jpeg(payload), width, height))
        return hashlib.md5(payload + f"@{width}x{height}".encode()).digest()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [
                resize_one(m, b) for m, b in zip(pdf["mime"], pdf["payload"])
            ]
            out["width"] = width
            out["height"] = height
            yield out

    return media_df.mapInPandas(kernel, MEDIA_SCHEMA)


#: contract for a sampled frame: media fan-out is one row per frame.
FRAME_SCHEMA = StructType(
    [
        StructField("media_id", IntegerType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(media_df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling plumbing: one media row fans out to ``n_frames``
    frame rows — the one-to-many Arrow-batch shape every video
    pipeline needs (decode → pick every Nth frame). Real decoders are
    stubbed (no codecs in this container); the fake kernel derives
    each frame deterministically from the payload + index. The
    fan-out happens inside the scan stage: no shuffle, output rows =
    |media| × n_frames, and Arrow batch memory is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.

    WAV payloads fan out for REAL (PCM split into ``n_frames`` time
    segments re-encoded as standalone WAVs), and so do MJPEG AVIs:
    every Nth '00dc' frame is emitted as its own standalone JPEG —
    actual video frame sampling, since this container carries a full
    RIFF walker + JPEG codec. Undecodable formats use the
    deterministic fake."""

    def frames_of(mime: str, payload: bytes) -> list[bytes]:
        adec = AUDIO_DECODERS.get(mime)
        if adec is not None:
            # audio "frames" are time segments, re-emitted as
            # standalone PCM WAVs whatever the source codec was
            rate, samples = adec(payload)
            return [encode_wav(seg, rate) for seg in np.array_split(samples, n_frames)]
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            # REAL video sampling: every Nth MJPEG frame, as its own
            # standalone JPEG payload (decodable by decode_image)
            js = decode_avi_mjpeg(payload)
            return [js[(i * len(js)) // n_frames] for i in range(n_frames)]
        vdec = VIDEO_DECODERS.get(mime)
        if vdec is not None:
            js = vdec(payload)
            return [js[(i * len(js)) // n_frames] for i in range(n_frames)]
        return [
            hashlib.md5(payload + bytes([i])).digest() for i in range(n_frames)
        ]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, mime, payload in zip(pdf["media_id"], pdf["mime"], pdf["payload"]):
                for i, fr in enumerate(frames_of(mime, payload)):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(fr)
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return media_df.mapInPandas(kernel, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# FLAC + Ogg-Vorbis metadata (stdlib-only): crawled audio corpora are
# not all MP3/WAV — FLAC's STREAMINFO block carries sample rate /
# channels / bit depth / TOTAL SAMPLES (exact duration, no frame scan
# needed), and both FLAC and Ogg-Vorbis carry provenance in Vorbis
# comment blocks (TITLE/ARTIST/vendor, the audio analogue of PNG's
# text chunks). Pure byte-walks per the public specs (xiph.org FLAC
# format + Vorbis I + RFC 3533 Ogg framing): FLAC = "fLaC" magic then
# 1+3-byte block headers; Ogg = "OggS" pages with lacing-value
# segment tables, a CRC-32 (poly 0x04C11DB7, unreflected, init 0)
# audited per page in PNG's count-don't-hide posture, and the Vorbis
# id (\x01vorbis) / comment (\x03vorbis) header packets.
# ---------------------------------------------------------------------------

_OGG_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7 if _r & 0x80000000 else _r << 1)
        _r &= 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)


def _ogg_crc(data: bytes) -> int:
    """RFC 3533 page CRC: CRC-32/MPEG-2 variant with init 0 (poly
    0x04C11DB7, no reflection, no final xor)."""
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ byte
        ]
    return crc


def _vorbis_comments(data: bytes) -> "tuple[dict, int, int]":
    """Parse a Vorbis comment structure (shared verbatim by FLAC's
    VORBIS_COMMENT block and Ogg's \\x03vorbis packet body): LE32
    vendor length + vendor, LE32 count, then per comment LE32 length
    + UTF-8 ``KEY=value`` (keys case-insensitive per the Vorbis I
    spec). Returns ({fields}, n_comments, clean) where fields holds
    vendor/title/artist (first occurrence wins) and clean flips on
    truncation or a comment without '=' — counted, not hidden."""
    out: dict = {"vendor": None, "title": None, "artist": None}
    clean = 1
    n = len(data)
    if n < 4:
        return out, 0, 0
    vlen = int.from_bytes(data[0:4], "little")
    pos = 4
    if pos + vlen > n:
        return out, 0, 0
    out["vendor"] = data[pos : pos + vlen].decode("utf-8", "replace")
    pos += vlen
    if pos + 4 > n:
        return out, 0, 0
    count = int.from_bytes(data[pos : pos + 4], "little")
    pos += 4
    n_comments = 0
    for _ in range(count):
        if pos + 4 > n:
            clean = 0
            break
        clen = int.from_bytes(data[pos : pos + 4], "little")
        pos += 4
        if pos + clen > n:
            clean = 0
            break
        raw = data[pos : pos + clen]
        pos += clen
        n_comments += 1
        key, sep, val = raw.partition(b"=")
        if not sep:
            clean = 0  # spec requires KEY=value
            continue
        k = key.decode("utf-8", "replace").upper()
        v = val.decode("utf-8", "replace")
        if k == "TITLE" and out["title"] is None:
            out["title"] = v
        elif k == "ARTIST" and out["artist"] is None:
            out["artist"] = v
    return out, n_comments, clean


def flac_metadata(payload: bytes) -> dict:
    """Walk FLAC metadata blocks: STREAMINFO's packed 64-bit field
    (sample rate 20 bits, channels-1 3 bits, bits-per-sample-1 5
    bits, total samples 36 bits — EXACT duration with no frame scan)
    and the VORBIS_COMMENT block. Truncation degrades to None+clean=0
    (every read bounds-checked); non-FLAC raises ValueError."""
    n = len(payload)
    if n < 4 or payload[0:4] != b"fLaC":
        raise ValueError("not a FLAC payload (no fLaC magic)")
    rec = {
        "format": "flac", "sample_rate": None, "channels": None,
        "bits_per_sample": None, "total_samples": None,
        "duration_us": None, "vendor": None, "title": None,
        "artist": None, "n_comments": None, "n_blocks": 0,
        "n_crc_bad": 0, "clean": 1,
    }
    pos = 4
    last = False
    while not last and pos + 4 <= n:
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4
        rec["n_blocks"] += 1
        body = payload[pos : pos + blen]
        if len(body) < blen:
            rec["clean"] = 0  # declared block runs past the payload
            break
        pos += blen
        if btype == 0 and blen >= 18:
            packed = int.from_bytes(body[10:18], "big")
            rec["sample_rate"] = packed >> 44
            rec["channels"] = ((packed >> 41) & 0x7) + 1
            rec["bits_per_sample"] = ((packed >> 36) & 0x1F) + 1
            rec["total_samples"] = packed & ((1 << 36) - 1)
            if rec["sample_rate"]:
                rec["duration_us"] = (
                    rec["total_samples"] * 1_000_000 // rec["sample_rate"]
                )
        elif btype == 0:
            rec["clean"] = 0  # STREAMINFO too short to hold the field
        elif btype == 4:
            fields, n_comments, c_clean = _vorbis_comments(body)
            rec.update(fields)
            rec["n_comments"] = n_comments
            if not c_clean:
                rec["clean"] = 0
    if not last:
        rec["clean"] = 0  # ran out of bytes before the last-block flag
    return rec


def ogg_vorbis_metadata(payload: bytes) -> dict:
    """Walk Ogg pages (RFC 3533: OggS capture, LE64 granule, lacing
    segment table) auditing each COMPLETE page's CRC (counted in
    n_crc_bad + clean, never hiding readable fields), then parse the
    Vorbis id packet (\\x01vorbis: channels, sample rate) and comment
    packet (\\x03vorbis) from the concatenated page payloads. Total
    samples = max granule over complete pages (the Vorbis I duration
    contract); exact duration derives as integer micros. Truncation
    degrades to None+clean=0; non-Ogg raises ValueError."""
    n = len(payload)
    if n < 4 or payload[0:4] != b"OggS":
        raise ValueError("not an Ogg payload (no OggS capture)")
    rec = {
        "format": "ogg", "sample_rate": None, "channels": None,
        "bits_per_sample": None, "total_samples": None,
        "duration_us": None, "vendor": None, "title": None,
        "artist": None, "n_comments": None, "n_blocks": 0,
        "n_crc_bad": 0, "clean": 1,
    }
    pos = 0
    payloads: list[bytes] = []
    max_granule = None
    while pos + 27 <= n and payload[pos : pos + 4] == b"OggS":
        header = payload[pos : pos + 27]
        granule = int.from_bytes(header[6:14], "little", signed=True)
        crc_declared = int.from_bytes(header[22:26], "little")
        n_segs = header[26]
        rec["n_blocks"] += 1
        table = payload[pos + 27 : pos + 27 + n_segs]
        if len(table) < n_segs:
            rec["clean"] = 0
            pos = n
            break
        body_len = sum(table)
        body = payload[pos + 27 + n_segs : pos + 27 + n_segs + body_len]
        if len(body) < body_len:
            rec["clean"] = 0  # page cut mid-payload
            pos = n
            break
        page = bytearray(header + table + body)
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc_declared:
            rec["n_crc_bad"] += 1
            rec["clean"] = 0
        payloads.append(body)
        if granule >= 0:
            max_granule = max(max_granule or 0, granule)
        pos += 27 + n_segs + body_len
    if pos < n:
        rec["clean"] = 0  # trailing non-page bytes
    rec["total_samples"] = max_granule
    stream = b"".join(payloads)
    idp = stream.find(b"\x01vorbis")
    if idp >= 0 and idp + 16 <= len(stream):
        rec["channels"] = stream[idp + 11]
        rec["sample_rate"] = int.from_bytes(
            stream[idp + 12 : idp + 16], "little"
        )
    cmp_ = stream.find(b"\x03vorbis")
    if cmp_ >= 0:
        fields, n_comments, c_clean = _vorbis_comments(
            stream[cmp_ + 7 :]
        )
        rec.update(fields)
        rec["n_comments"] = n_comments
        if not c_clean:
            rec["clean"] = 0
    if rec["sample_rate"] and rec["total_samples"] is not None:
        rec["duration_us"] = (
            rec["total_samples"] * 1_000_000 // rec["sample_rate"]
        )
    return rec


def audio_container_metadata(payload: bytes) -> dict:
    """Dispatch on container magic: fLaC → ``flac_metadata``, OggS →
    ``ogg_vorbis_metadata``; anything else raises ValueError (the
    strict=False containment hook)."""
    if payload[0:4] == b"fLaC":
        return flac_metadata(payload)
    if payload[0:4] == b"OggS":
        return ogg_vorbis_metadata(payload)
    raise ValueError("not a FLAC or Ogg payload")


def encode_flac(
    *,
    sample_rate: int = 44100,
    channels: int = 2,
    bits_per_sample: int = 16,
    total_samples: int = 0,
    vendor: str = "etlp",
    comments: "tuple[str, ...]" = (),
    padding: bool = False,
    truncate_streaminfo_at: "int | None" = None,
) -> bytes:
    """Inverse fixture generator: build a FLAC metadata stream whose
    ``flac_metadata`` walk returns exactly the arguments. ``comments``
    are raw ``KEY=value`` strings; ``padding`` appends a PADDING
    block; ``truncate_streaminfo_at`` cuts the stream that many bytes
    into the STREAMINFO body (declared length survives)."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    streaminfo = (
        (4096).to_bytes(2, "big") * 2  # min/max blocksize
        + b"\x00\x00\x00" * 2  # min/max framesize (unknown)
        + packed.to_bytes(8, "big")
        + b"\x00" * 16  # md5
    )
    vc = vendor.encode("utf-8")
    body = len(vc).to_bytes(4, "little") + vc
    body += len(comments).to_bytes(4, "little")
    for c in comments:
        cb = c.encode("utf-8")
        body += len(cb).to_bytes(4, "little") + cb
    out = b"fLaC"
    if truncate_streaminfo_at is not None:
        out += bytes([0x00]) + len(streaminfo).to_bytes(3, "big")
        return out + streaminfo[:truncate_streaminfo_at]
    out += bytes([0x00]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    blocks = [(4, body)]
    if padding:
        blocks.append((1, b"\x00" * 8))
    for i, (btype, b) in enumerate(blocks):
        flag = 0x80 if i == len(blocks) - 1 else 0x00
        out += bytes([flag | btype]) + len(b).to_bytes(3, "big") + b
    return out


def _ogg_page(
    header_type: int, granule: int, seq: int, body: bytes,
    *, corrupt_crc: bool = False,
) -> bytes:
    segs = []
    rest = body
    while len(rest) >= 255:
        segs.append(255)
        rest = rest[255:]
    segs.append(len(rest))
    header = (
        b"OggS\x00" + bytes([header_type])
        + granule.to_bytes(8, "little", signed=True)
        + (777).to_bytes(4, "little")  # serial
        + seq.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"  # crc placeholder
        + bytes([len(segs)]) + bytes(segs)
    )
    crc = _ogg_crc(header + body)
    if corrupt_crc:
        crc ^= 0xDEADBEEF
    page = bytearray(header + body)
    page[22:26] = crc.to_bytes(4, "little")
    return bytes(page)


def encode_ogg_vorbis(
    *,
    sample_rate: int = 44100,
    channels: int = 2,
    total_samples: int = 0,
    vendor: str = "etlp",
    comments: "tuple[str, ...]" = (),
    corrupt_comment_crc: bool = False,
    truncate_id_page_at: "int | None" = None,
) -> bytes:
    """Inverse fixture generator: a 3-page Ogg-Vorbis stream (BOS id
    page, comment page, EOS audio page carrying the final granule)
    whose ``ogg_vorbis_metadata`` walk returns exactly the arguments.
    ``corrupt_comment_crc`` flips the comment page's CRC (fields stay
    extracted; the audit counts); ``truncate_id_page_at`` cuts the
    stream that many bytes into the id page's payload."""
    idpkt = (
        b"\x01vorbis" + (0).to_bytes(4, "little")
        + bytes([channels]) + sample_rate.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 3 + b"\xb8\x01"
    )
    vc = vendor.encode("utf-8")
    cbody = len(vc).to_bytes(4, "little") + vc
    cbody += len(comments).to_bytes(4, "little")
    for c in comments:
        cb = c.encode("utf-8")
        cbody += len(cb).to_bytes(4, "little") + cb
    cmtpkt = b"\x03vorbis" + cbody + b"\x01"  # framing bit
    p0 = _ogg_page(0x02, 0, 0, idpkt)  # BOS
    if truncate_id_page_at is not None:
        cut = len(p0) - len(idpkt) + truncate_id_page_at
        return p0[:cut]
    p1 = _ogg_page(0x00, 0, 1, cmtpkt, corrupt_crc=corrupt_comment_crc)
    p2 = _ogg_page(0x04, total_samples, 2, b"\x00\x00")  # EOS
    return p0 + p1 + p2


_AUDIO_CONTAINER_COLS = (
    ("format", "string"),
    ("sample_rate", "int"),
    ("channels", "int"),
    ("bits_per_sample", "int"),
    ("total_samples", "bigint"),
    ("duration_us", "bigint"),
    ("vendor", "string"),
    ("title", "string"),
    ("artist", "string"),
    ("n_comments", "int"),
    ("n_blocks", "int"),
    ("n_crc_bad", "int"),
    ("clean", "int"),
)


def extract_audio_container_metadata(
    media_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
) -> DataFrame:
    """One ``audio_container_metadata`` row per payload, through
    ``per_payload``. ``strict=False`` contains blobs that are neither
    FLAC nor Ogg Vorbis."""
    return per_payload(
        media_df, lambda b: [audio_container_metadata(b)], _AUDIO_CONTAINER_COLS,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


def orientation_invariant_descriptor(
    payload: bytes, *, bucket_width: int = 32
) -> dict:
    """EXIF-normalized perceptual descriptor for a JPEG payload — the
    executable form of ``_pixel_feature``'s orientation caveat and
    ``normalize_orientation``'s reason to exist: one byte-walk for
    the Orientation tag (``exif_metadata``, no decode), one real
    decode (``decode_jpeg``), normalize, then quantized quadrant-luma
    buckets joined as a band key (the LSH-bucket shape: equal keys →
    dedup candidates, compared via a shuffle on the key, never
    all-pairs). Returns BOTH keys — ``norm_key`` (after undoing the
    stored orientation) and ``raw_key`` (as stored) — so a pipeline
    can measure exactly what normalization merged: a camera-rotated
    duplicate shares ``norm_key`` with its upright original while its
    ``raw_key`` differs (the quadrant permutation). ``clean`` is the
    EXIF walk's audit flag."""
    m = exif_metadata(payload)
    px = decode_jpeg(payload)

    def key(p: np.ndarray) -> str:
        luma = p.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        h, w = luma.shape
        qs = (
            luma[: h // 2, : w // 2].mean(),
            luma[: h // 2, w // 2 :].mean(),
            luma[h // 2 :, : w // 2].mean(),
            luma[h // 2 :, w // 2 :].mean(),
        )
        return "-".join(str(int(q) // bucket_width) for q in qs)

    return {
        "orientation": m["orientation"],
        "raw_key": key(px),
        "norm_key": key(normalize_orientation(px, m["orientation"])),
        "clean": m["clean"],
    }
