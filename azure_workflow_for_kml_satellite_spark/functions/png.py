"""PNG tile sampling fallback path (SURVEY.md §2.1 S12, §2.8 G9/G19;
reference: treesight/pipeline/enrichment/ndvi.py:513-693).

The reference's low-fidelity NDVI fallback samples one WebMercator z12 tile
rendered as a PNG and maps the red channel back to NDVI −0.2..0.8. This
module re-implements that path from scratch on stdlib struct/zlib + numpy:
tile math, a minimal non-interlaced 8-bit RGB/RGBA PNG decoder with all five
scanline filters (incl. Paeth), the red-channel→NDVI remap, and — since this
sandbox has no tile server — a deterministic PNG *encoder* used by tests and
the synthetic tile provider.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np


def webmercator_tile(lon: float, lat: float, z: int = 12) -> tuple[int, int]:
    """Web-Mercator tile x/y at zoom z (reference: ndvi.py:528-532)."""
    n = 2**z
    x = int((lon + 180) / 360 * n)
    lat_rad = math.radians(lat)
    y = int((1 - math.log(math.tan(lat_rad) + 1 / math.cos(lat_rad)) / math.pi) / 2 * n)
    return x, y


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (reference: ndvi.py:683-693)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(png_bytes: bytes) -> tuple[np.ndarray, int] | None:
    """Decode a non-interlaced 8-bit RGB/RGBA PNG → (H, W, bpp) uint8 array.

    Same support envelope as the reference decoder (ndvi.py:576-584): only
    bit depth 8, colour types 2 (RGB) and 6 (RGBA), no Adam7. Returns None
    on anything else.
    """
    if png_bytes[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    width = height = bit_depth = color_type = 0
    raw_idat = b""
    while pos + 8 <= len(png_bytes):
        (chunk_len,) = struct.unpack(">I", png_bytes[pos : pos + 4])
        chunk_type = png_bytes[pos + 4 : pos + 8]
        chunk_data = png_bytes[pos + 8 : pos + 8 + chunk_len]
        if chunk_type == b"IHDR":
            width, height = struct.unpack(">II", chunk_data[0:8])
            bit_depth = chunk_data[8]
            color_type = chunk_data[9]
        elif chunk_type == b"IDAT":
            raw_idat += chunk_data
        elif chunk_type == b"IEND":
            break
        pos += 12 + chunk_len
    if not width or not height or bit_depth != 8 or color_type not in (2, 6):
        return None
    bpp = 4 if color_type == 6 else 3
    try:
        raw = zlib.decompress(raw_idat)
    except zlib.error:
        return None
    img = _unfilter_rows(raw, 0, height, width * bpp, bpp)
    if img is None:
        return None
    return img.reshape(height, width, bpp), bpp


def _unfilter_rows(
    raw: bytes, offset: int, n_rows: int, row_bytes: int, bpp: int
) -> np.ndarray | None:
    """Undo PNG row filters for ``n_rows`` filtered scanlines starting at
    ``offset`` → (n_rows, row_bytes) uint8, or None if truncated."""
    stride = 1 + row_bytes
    if len(raw) - offset < stride * n_rows:
        return None
    img = np.zeros((n_rows, row_bytes), dtype=np.uint8)
    prev = np.zeros(row_bytes, dtype=np.uint8)
    for r in range(n_rows):
        row_start = offset + r * stride
        ftype = raw[row_start]
        line = np.frombuffer(raw, np.uint8, row_bytes, row_start + 1).copy()
        if ftype == 1:  # Sub — sequential along the row per byte-lane
            for i in range(bpp, len(line)):
                line[i] = (int(line[i]) + int(line[i - bpp])) & 0xFF
        elif ftype == 2:  # Up
            line += prev
        elif ftype == 3:  # Average
            for i in range(len(line)):
                left = int(line[i - bpp]) if i >= bpp else 0
                line[i] = (int(line[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(len(line)):
                left = int(line[i - bpp]) if i >= bpp else 0
                ul = int(prev[i - bpp]) if i >= bpp else 0
                line[i] = (int(line[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        # unknown filter bytes pass through untouched — the reference
        # decoder's behavior (ndvi.py:576-584), kept for tile-path parity
        img[r] = line
        prev = img[r]
    return img


def extract_red_channel(png_bytes: bytes) -> list[int]:
    """Red channel of opaque pixels (reference: ndvi.py:571-680)."""
    decoded = decode_png(png_bytes)
    if decoded is None:
        return []
    img, bpp = decoded
    if bpp == 4:
        mask = img[:, :, 3] > 0
        return [int(v) for v in img[:, :, 0][mask]]
    return [int(v) for v in img[:, :, 0].reshape(-1)]


def png_tile_ndvi_stats(png_bytes: bytes) -> dict | None:
    """Red 0..255 → NDVI −0.2..0.8; mean/min/max at 3dp
    (reference: ndvi.py:549-562)."""
    reds = extract_red_channel(png_bytes)
    if not reds:
        return None
    mapped = [-0.2 + (v / 255) * 1.0 for v in reds]
    return {
        "mean": round(sum(mapped) / len(mapped), 3),
        "min": round(min(mapped), 3),
        "max": round(max(mapped), 3),
    }


def encode_png_rgba(img: np.ndarray) -> bytes:
    """Minimal RGBA PNG encoder (filter 0 rows) for tests and the synthetic
    tile provider."""
    h, w, c = img.shape
    if c != 4 or img.dtype != np.uint8:
        raise ValueError(f"encode_png_rgba expects uint8 HxWx4, got {img.dtype} c={c}")
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
