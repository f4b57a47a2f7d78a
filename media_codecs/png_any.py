"""General web-PNG decoder: every colour type and bit depth, Adam7
interlace, tRNS and PLTE. It extends the engine's tile decoder
(``functions/png.decode_png``, non-interlaced 8-bit RGB/RGBA only) and
shares its scanline unfilter, ``_unfilter_rows``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from azure_workflow_for_kml_satellite_spark.functions.png import _unfilter_rows

_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}


def decode_png_any(png_bytes: bytes) -> tuple[np.ndarray, int] | None:
    """General web-PNG decoder — beyond the reference tile envelope that
    ``decode_png`` deliberately preserves. All colour types (grayscale,
    RGB, palette incl. tRNS alpha, gray+alpha, RGBA), bit depths
    1/2/4/8/16 (16 → high byte) and Adam7 interlace. → (HxWxC uint8, C),
    or None on corrupt/unsupported input."""
    if png_bytes[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    width = height = bit_depth = color_type = interlace = 0
    raw_idat = b""
    palette = None
    trns = None
    while pos + 8 <= len(png_bytes):
        (chunk_len,) = struct.unpack(">I", png_bytes[pos : pos + 4])
        chunk_type = png_bytes[pos + 4 : pos + 8]
        chunk_data = png_bytes[pos + 8 : pos + 8 + chunk_len]
        if chunk_type == b"IHDR":
            width, height = struct.unpack(">II", chunk_data[0:8])
            bit_depth, color_type = chunk_data[8], chunk_data[9]
            interlace = chunk_data[12]
        elif chunk_type == b"PLTE":
            palette = np.frombuffer(chunk_data, np.uint8)
            palette = palette[: len(palette) - len(palette) % 3].reshape(-1, 3)
        elif chunk_type == b"tRNS" and color_type == 3:
            trns = np.frombuffer(chunk_data, np.uint8)
        elif chunk_type == b"IDAT":
            raw_idat += chunk_data
        elif chunk_type == b"IEND":
            break
        pos += 12 + chunk_len
    if (
        not width
        or not height
        or color_type not in _PNG_CHANNELS
        or bit_depth not in _PNG_DEPTHS.get(color_type, ())
        or interlace not in (0, 1)
        or (color_type == 3 and palette is None)
    ):
        return None
    nch = _PNG_CHANNELS[color_type]
    try:
        raw = zlib.decompress(raw_idat)
    except zlib.error:
        return None

    def read_pass(offset: int, pw: int, ph: int):
        """One (sub-)image of filtered scanlines → (ph, pw, nch) uint8
        samples (palette indexes stay raw) + the next offset."""
        bits_pp = bit_depth * nch
        row_bytes = (pw * bits_pp + 7) // 8
        bpp_f = max(1, bits_pp // 8)
        rows = _unfilter_rows(raw, offset, ph, row_bytes, bpp_f)
        if rows is None:
            return None, offset
        if bit_depth == 8:
            samples = rows[:, : pw * nch].reshape(ph, pw, nch)
        elif bit_depth == 16:
            samples = rows[:, : pw * nch * 2].reshape(ph, pw, nch, 2)[..., 0]
        else:  # 1/2/4-bit, single channel (gray or palette index)
            bits = np.unpackbits(rows, axis=1)[:, : pw * bit_depth]
            groups = bits.reshape(ph, pw, bit_depth)
            weights = 1 << np.arange(bit_depth - 1, -1, -1)
            samples = (groups * weights).sum(axis=2).astype(np.uint8)[..., None]
        return samples, offset + ph * (1 + row_bytes)

    if interlace == 0:
        samples, _ = read_pass(0, width, height)
        if samples is None:
            return None
    else:
        samples = np.zeros((height, width, nch), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, offset = read_pass(offset, pw, ph)
            if sub is None:
                return None
            samples[y0::dy, x0::dx] = sub
    if color_type == 3:
        idx = samples[..., 0]
        if int(idx.max()) >= len(palette):
            return None
        rgb = palette[idx]
        if trns is not None:
            alpha = np.full(256, 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            out = np.concatenate([rgb, alpha[idx][..., None]], axis=2)
            return out, 4
        return rgb, 3
    if bit_depth in (1, 2, 4):  # grayscale scale-up to full range
        samples = samples * np.uint8(255 // ((1 << bit_depth) - 1))
    return samples, nch

