"""Independent oracle for the media operators (``media_codecs.multimodal``).

Two layers, the same split the engine's oracle uses:

- scalar kernels, a straight-line re-derivation of the thumbnail, YUV and
  pHash contracts that shares no code with the operators;
- ``compute_*`` writers, which regenerate each synthetic asset's source
  pixels or samples (``synth_media``) and write the expected rows as
  ``image_thumbnails``, ``audio_metadata`` and ``video_frames`` parquet.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow as pa

from azure_workflow_for_kml_satellite_spark.oracle.sequential import _write

# ── image-thumbnail oracle (independent transcription) ──────────────────────
# Straight-line scalar re-derivation of the thumbnail contract
# (multimodal.image_thumbnails): pixel-centre bilinear downscale
# with edge-clamped 2x2 support, RGBA normalization, filter-0 zlib-6 PNG.
# Shares only the contract (and zlib/hashlib from the stdlib) with the
# operators — no code from functions/png.py or multimodal.py.


def thumb_dims(h: int, w: int, max_side: int) -> tuple[int, int]:
    scale = max_side / max(h, w)
    if scale > 1.0:
        scale = 1.0
    th = int(round(h * scale))
    tw = int(round(w * scale))
    return (max(1, th), max(1, tw))


def resize_bilinear_scalar(img: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Per-output-pixel scalar bilinear resample (same convention as the
    engine's vectorized kernel, derived independently from the contract)."""
    h, w, c = img.shape
    out = np.empty((th, tw, c), dtype=np.uint8)
    for oy in range(th):
        fy = (oy + 0.5) * (h / th) - 0.5
        if fy < 0.0:
            fy = 0.0
        if fy > h - 1:
            fy = float(h - 1)
        y0 = math.floor(fy)
        y1 = y0 + 1 if y0 + 1 < h else h - 1
        dy = fy - y0
        for ox in range(tw):
            fx = (ox + 0.5) * (w / tw) - 0.5
            if fx < 0.0:
                fx = 0.0
            if fx > w - 1:
                fx = float(w - 1)
            x0 = math.floor(fx)
            x1 = x0 + 1 if x0 + 1 < w else w - 1
            dx = fx - x0
            for ch in range(c):
                v = (
                    float(img[y0, x0, ch]) * (1 - dy) * (1 - dx)
                    + float(img[y0, x1, ch]) * (1 - dy) * dx
                    + float(img[y1, x0, ch]) * dy * (1 - dx)
                    + float(img[y1, x1, ch]) * dy * dx
                )
                v = round(v)  # round-half-even, matching np.rint
                if v < 0:
                    v = 0
                elif v > 255:
                    v = 255
                out[oy, ox, ch] = v
    return out


def normalize_rgba(img: np.ndarray) -> np.ndarray:
    """The thumbnail RGBA normalization: gray/gray+alpha replicate channel
    0 to RGB; alpha comes from channel 3 (RGBA), channel 1 (gray+alpha),
    else opaque."""
    h, w, c = img.shape
    out = np.empty((h, w, 4), dtype=np.uint8)
    if c in (1, 2):
        out[..., 0] = out[..., 1] = out[..., 2] = img[..., 0]
    else:
        out[..., :3] = img[..., :3]
    if c == 4:
        out[..., 3] = img[..., 3]
    elif c == 2:
        out[..., 3] = img[..., 1]
    else:
        out[..., 3] = 255
    return out


def png_rgba_bytes(img: np.ndarray) -> bytes:
    """Independent assembly of the thumbnail PNG container: IHDR(8-bit,
    colour type 6), one zlib-level-6 IDAT of filter-0 scanlines, IEND."""
    import zlib as _zlib

    h, w = img.shape[:2]
    scanlines = bytearray()
    for r in range(h):
        scanlines.append(0)
        scanlines += img[r].tobytes()

    def _chunk(tag: bytes, body: bytes) -> bytes:
        crc = _zlib.crc32(tag)
        crc = _zlib.crc32(body, crc) & 0xFFFFFFFF
        return (
            len(body).to_bytes(4, "big") + tag + body + crc.to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 6, 0, 0, 0])
    )
    return (
        bytes([0x89]) + b"PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _zlib.compress(bytes(scanlines), 6))
        + _chunk(b"IEND", b"")
    )


# ── video-frame oracle kernels (video_frame_sample) ────────────────────────────


def yuv420_to_rgb_scalar(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Independent scalar transcription of the engine's fixed-point BT.601
    conversion (media_codecs/vp8.yuv_to_rgb: nearest-neighbour chroma
    upsample; r = y + 91881*v>>16, g = y - (22554*u + 46802*v)>>16,
    b = y + 116130*u>>16, clamped) — per-pixel Python loops, no numpy
    vector ops, so the engine's vectorized path is genuinely under test."""
    h, w = y.shape
    out = np.empty((h, w, 3), dtype=np.uint8)
    for yy in range(h):
        for xx in range(w):
            Y = int(y[yy, xx])
            U = int(u[yy // 2, xx // 2]) - 128
            V = int(v[yy // 2, xx // 2]) - 128
            r = Y + ((91881 * V) >> 16)
            g = Y - ((22554 * U + 46802 * V) >> 16)
            b = Y + ((116130 * U) >> 16)
            out[yy, xx, 0] = 0 if r < 0 else (255 if r > 255 else r)
            out[yy, xx, 1] = 0 if g < 0 else (255 if g > 255 else g)
            out[yy, xx, 2] = 0 if b < 0 else (255 if b > 255 else b)
    return out


def phash64_scalar(img: np.ndarray) -> int:
    """Independent scalar transcription of the engine's 8x8 average-hash
    (media_codecs/multimodal._phash): integer channel-sum luma, 8x8
    nearest-index downsample (i*dim//8), exact ``64*s > total`` threshold,
    63 bits little-endian. All-integer so both implementations agree on
    ties by construction."""
    h, w = img.shape[:2]
    samples = []
    for by in range(8):
        sy = min(by * h // 8, h - 1)
        for bx in range(8):
            sx = min(bx * w // 8, w - 1)
            px = img[sy, sx]
            samples.append(int(px[0]) + int(px[1]) + int(px[2]))
    total = sum(samples)
    val = 0
    for i in range(63):
        if samples[i] * 64 > total:
            val |= 1 << i
    return val


def compute_image_thumbnails(out_dir: Path, max_side: int = 32) -> None:
    """Expected rows for image_thumbnails: regenerate each asset's source
    pixels (shared input-generation code, synth.image_pixels) and derive the
    thumbnail md5 through the INDEPENDENT scalar resize + PNG assembly
    (kernels.resize_bilinear_scalar/png_rgba_bytes) — so the engine's
    container decode, vectorized bilinear kernel, and PNG encoder are all
    under test. Corrupt assets quarantine (nulls + quarantined=True)."""
    import hashlib

    from media_codecs import synth_media as synth

    ids, ws, hs, tws, ths, md5s, quar = [], [], [], [], [], [], []
    for i in range(synth.IMAGE_COUNT):
        px = synth.image_pixels(i)
        h, w = px.shape[:2]
        th, tw = thumb_dims(h, w, max_side)
        small = px if (th, tw) == (h, w) else resize_bilinear_scalar(px, th, tw)
        png = png_rgba_bytes(normalize_rgba(small))
        ids.append(f"img{i:03d}_{synth.image_kind(i)}")
        ws.append(w)
        hs.append(h)
        tws.append(tw)
        ths.append(th)
        md5s.append(hashlib.md5(png).hexdigest())
        quar.append(False)
    for bad in ("img_corrupt_png", "img_corrupt_webp", "img_corrupt_gif"):
        ids.append(bad)
        ws.append(None)
        hs.append(None)
        tws.append(None)
        ths.append(None)
        md5s.append(None)
        quar.append(True)
    _write(
        out_dir,
        "image_thumbnails",
        {
            "asset_id": pa.array(ids, pa.string()),
            "width": pa.array(ws, pa.int64()),
            "height": pa.array(hs, pa.int64()),
            "thumb_width": pa.array(tws, pa.int64()),
            "thumb_height": pa.array(ths, pa.int64()),
            "thumb_md5": pa.array(md5s, pa.string()),
            "quarantined": pa.array(quar, pa.bool_()),
        },
    )


def compute_audio_metadata(out_dir: Path) -> None:
    """Expected rows for audio_metadata, derived purely from the synth
    SPEC (no decoder involved): exact timing columns per kind (the mp3
    frame count follows the encoder's documented padding formula) and
    rms_ok/peak_ok = True — the engine side computes those booleans by
    checking its DECODED statistics against the same spec's analytic
    amplitude within per-kind tolerance bands, so a broken decoder flips
    them to False and the driver hash mismatches."""
    from media_codecs import synth_media as synth

    ids, rates, chans, nss, durs, quar, rok, pok = [], [], [], [], [], [], [], []
    for i in range(synth.AUDIO_COUNT):
        sp = synth.audio_spec(i)
        n = sp["n"]
        if sp["kind"] == "mp3":
            n = max(1, -(-n // 1152)) * 1152  # encoder pads to frame grid
        ids.append(f"aud{i:03d}_{sp['kind']}")
        rates.append(sp["rate"])
        chans.append(1)
        nss.append(n)
        durs.append(int(round(1000.0 * n / sp["rate"])))
        quar.append(False)
        rok.append(True)
        pok.append(True)
    ids.append("aud_corrupt")
    rates.append(None)
    chans.append(None)
    nss.append(None)
    durs.append(None)
    quar.append(True)
    rok.append(False)
    pok.append(False)
    _write(
        out_dir,
        "audio_metadata",
        {
            "asset_id": pa.array(ids, pa.string()),
            "sample_rate": pa.array(rates, pa.int64()),
            "channels": pa.array(chans, pa.int64()),
            "n_samples": pa.array(nss, pa.int64()),
            "duration_ms": pa.array(durs, pa.int64()),
            "quarantined": pa.array(quar, pa.bool_()),
            "rms_ok": pa.array(rok, pa.bool_()),
            "peak_ok": pa.array(pok, pa.bool_()),
        },
    )


def compute_video_frames(out_dir: Path, every_ms: int | None = None) -> None:
    """Expected rows for video_frame_sample. Timing derives purely from
    synth.video_spec; pixel hashes derive from the ENCODER's deterministic
    reconstruction (shared input generation, media_codecs/h264
    encode_h264_frames) pushed through the INDEPENDENT scalar YUV→RGB and
    average-hash kernels (kernels.yuv420_to_rgb_scalar/phash64_scalar).
    The from-scratch H.264 decoder is never consulted here: the engine's
    MP4 demux → avcC parse → CAVLC/intra/deblock decode must reproduce the
    encoder reconstruction BIT-exactly for the driver hashes to match."""
    from media_codecs.h264 import (
        encode_h264_frames,
    )
    from media_codecs import synth_media as synth

    if every_ms is None:
        every_ms = synth.VIDEO_EVERY_MS
    ids, fidx, tss, phs, quar = [], [], [], [], []
    for i in range(synth.VIDEO_COUNT):
        sp = synth.video_spec(i)
        recons = encode_h264_frames(synth.video_frames(i), **sp["enc"])["recons"]
        duration = sp["n_frames"] * sp["delta_ms"]
        n_rows = max(1, duration // every_ms + (1 if duration % every_ms else 0))
        for r in range(n_rows):
            ts = r * every_ms
            fi = min(ts // sp["delta_ms"], sp["n_frames"] - 1)
            rgb = yuv420_to_rgb_scalar(*recons[fi])
            ids.append(f"vid{i:03d}_avc1")
            fidx.append(fi)
            tss.append(ts)
            phs.append(phash64_scalar(rgb))
            quar.append(False)
    # chain-break asset: truncated P frame → per-frame errors (null hash,
    # quarantined) for the broken/poisoned frames, real hashes resuming at
    # the next IDR — derived from the shared spec, decoder never consulted
    sp = synth.CHAINBREAK_SPEC
    recons = encode_h264_frames(synth.chainbreak_frames(), **sp["enc"])["recons"]
    duration = sp["n_frames"] * sp["delta_ms"]
    n_rows = max(1, duration // every_ms + (1 if duration % every_ms else 0))
    for r in range(n_rows):
        ts = r * every_ms
        fi = min(ts // sp["delta_ms"], sp["n_frames"] - 1)
        ids.append("vid_chainbreak_avc1")
        fidx.append(fi)
        tss.append(ts)
        if fi in synth.CHAINBREAK_BROKEN:
            phs.append(None)
            quar.append(True)
        else:
            phs.append(phash64_scalar(yuv420_to_rgb_scalar(*recons[fi])))
            quar.append(False)
    ids.append("vid_corrupt")
    fidx.append(None)
    tss.append(None)
    phs.append(None)
    quar.append(True)
    _write(
        out_dir,
        "video_frames",
        {
            "asset_id": pa.array(ids, pa.string()),
            "frame_index": pa.array(fidx, pa.int64()),
            "ts_ms": pa.array(tss, pa.int64()),
            "frame_phash": pa.array(phs, pa.int64()),
            "quarantined": pa.array(quar, pa.bool_()),
        },
    )


