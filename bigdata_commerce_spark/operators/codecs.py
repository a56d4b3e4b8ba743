"""Dependency-free image codecs for the multimodal ``decode="real"``
path: 24-bit uncompressed BMP and binary PPM (P6), plus a
concatenated-P6 stream as the frame-addressable "video" container.

Why these formats: both are fully specified, decodable in ~30 lines of
pure python + numpy, and produced by every real tool (ffmpeg's
``-c:v ppm``/``bmp`` encoders emit exactly these bytes), so the
multimodal kernels' real branch executes and is testable in a
container with no PIL/ffmpeg. The contract proven here — bytes in,
(height, width, 3) uint8 RGB out, resample, re-encode — is the same
one a PIL/libvips-backed kernel satisfies, so swapping codecs later
cannot change batch shapes or schemas.

Everything operates on numpy arrays (vectorized row de-padding,
nearest-neighbor resampling via integer index maps); no per-pixel
python loops, because these kernels run inside Arrow batches on a
100 TB corpus.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np


class CodecError(ValueError):
    """Unsupported or corrupt media payload."""


# ---------------------------------------------------------------- PPM


def encode_ppm(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> binary PPM (P6, maxval 255)."""
    h, w = rgb.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        rgb, dtype=np.uint8
    ).tobytes()


def _ppm_token(data: bytes, pos: int) -> tuple[bytes, int]:
    # skip whitespace and '#' comments (to end of line), then read one
    # token — the header grammar shared by all netpbm formats
    n = len(data)
    while pos < n:
        c = data[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":
            while pos < n and data[pos : pos + 1] != b"\n":
                pos += 1
        else:
            break
    start = pos
    while pos < n and not data[pos : pos + 1].isspace():
        pos += 1
    if start == pos:
        raise CodecError("truncated PPM header")
    return data[start:pos], pos


def decode_ppm(data: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """Decode one P6 image starting at ``offset``. Returns
    ((h, w, 3) uint8 RGB, offset past the image) — the second value is
    what makes concatenated-P6 streams frame-addressable."""
    if data[offset : offset + 2] != b"P6":
        raise CodecError("not a P6 PPM payload")
    pos = offset + 2
    dims = []
    for _ in range(3):
        tok, pos = _ppm_token(data, pos)
        try:
            dims.append(int(tok))
        except ValueError as exc:
            raise CodecError(f"bad PPM header token {tok!r}") from exc
    w, h, maxval = dims
    if maxval != 255:
        raise CodecError(f"only maxval 255 supported, got {maxval}")
    if w <= 0 or h <= 0:
        raise CodecError(f"bad PPM dimensions {w}x{h}")
    pos += 1  # exactly ONE whitespace byte separates header and raster
    end = pos + w * h * 3
    if end > len(data):
        raise CodecError("truncated PPM raster")
    rgb = np.frombuffer(data[pos:end], dtype=np.uint8).reshape(h, w, 3)
    return rgb, end


def iter_ppm_frames(data: bytes) -> Iterator[np.ndarray]:
    """Frames of a concatenated-P6 stream (ffmpeg ``-c:v ppm`` output),
    each an (h, w, 3) uint8 RGB array."""
    offset = 0
    while offset < len(data):
        frame, offset = decode_ppm(data, offset)
        yield frame


# ---------------------------------------------------------------- BMP


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed bottom-up BMP."""
    h, w = rgb.shape[:2]
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # BGR channel order, bottom-up row order, rows padded to 4 bytes
    bgr = np.ascontiguousarray(rgb[::-1, :, ::-1], dtype=np.uint8)
    if pad:
        rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
        rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
        raster = rows.tobytes()
    else:
        raster = bgr.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + dib + raster


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed (BI_RGB) BMP -> (h, w, 3) uint8 RGB.
    Handles both bottom-up (positive height) and top-down (negative)
    row orders and 4-byte row padding."""
    if data[:2] != b"BM":
        raise CodecError("not a BMP payload")
    if len(data) < 54:
        raise CodecError("truncated BMP header")
    (data_offset,) = struct.unpack_from("<I", data, 10)
    dib_size, w, h_signed = struct.unpack_from("<Iii", data, 14)
    if dib_size < 40:
        raise CodecError(f"unsupported DIB header size {dib_size}")
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if bpp != 24 or compression != 0:
        raise CodecError(f"only 24-bit BI_RGB supported (bpp={bpp}, comp={compression})")
    h = abs(h_signed)
    if w <= 0 or h == 0:
        raise CodecError(f"bad BMP dimensions {w}x{h_signed}")
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    end = data_offset + stride * h
    if end > len(data):
        raise CodecError("truncated BMP raster")
    rows = np.frombuffer(data[data_offset:end], dtype=np.uint8).reshape(h, stride)
    bgr = rows[:, :row_bytes].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up (the common case)
        bgr = bgr[::-1]
    return np.ascontiguousarray(bgr[:, :, ::-1])  # BGR -> RGB


# ---------------------------------------------------------- dispatch


def decode_image(data: bytes) -> np.ndarray:
    """Magic-byte dispatch: BMP or single P6 PPM -> (h, w, 3) uint8."""
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"P6":
        rgb, _ = decode_ppm(data)
        return rgb
    raise CodecError(f"unrecognized media magic {data[:2]!r}")


def resize_nearest(rgb: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample to (height, width, 3) via integer
    index maps — two numpy gathers, no python pixel loop. Pixel-center
    sampling (the +0.5 offset) matches PIL's NEAREST placement."""
    h, w = rgb.shape[:2]
    rows = ((np.arange(height) + 0.5) * h / height).astype(np.int64).clip(0, h - 1)
    cols = ((np.arange(width) + 0.5) * w / width).astype(np.int64).clip(0, w - 1)
    return rgb[rows][:, cols]


# ---------------------------------------------------------------------------
# WAV (PCM) — stdlib `wave`, dependency-free like BMP/PPM above
# ---------------------------------------------------------------------------
