"""Deterministic synthetic media assets: the image, audio and video tables
(``images``, ``audio``, ``videos`` parquet) and the recipes that build them.
Each asset is a pure function of its index, hashed with the engine
generator's ``_mix``, so a rebuild is byte-identical.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from azure_workflow_for_kml_satellite_spark.sources.synth import _mix

# ── images (training-data thumbnail / multimodal assets) ────────────────────

IMAGE_COUNT = 48


def _hash_bytes(i: int, n: int) -> bytes:
    """n deterministic bytes for asset i — pure function of indices (blake2b
    counter mode), stable across processes and platforms."""
    out = bytearray()
    block = 0
    while len(out) < n:
        out += hashlib.blake2b(
            struct.pack("<QQ", i, block), digest_size=32
        ).digest()
        block += 1
    return bytes(out[:n])


IMAGE_KINDS = ("png_rgba", "png_rgb", "png_ga", "webp", "gif_anim", "webp_anim")


def image_kind(i: int) -> str:
    return IMAGE_KINDS[i % len(IMAGE_KINDS)]


def _image_dims(i: int) -> tuple[int, int]:
    h = 16 + (_mix(223, i, 5) % 60)  # 16..75 — some below the 32px thumb side
    w = 16 + (_mix(227, i, 3) % 60)
    return h, w


def _gif_anim_parts(i: int, h: int, w: int):
    """Deterministic recipe for animated-GIF asset ``i``: (palette 64x3,
    frame specs for encode_gif_anim). Frame 0 — the one image_metadata /
    image_thumbnails composite — covers the full canvas on even i and an
    inset subrect (transparent margins → RGBA path) on odd i, with a
    transparent index when i%4==1. Frames 1-2 exercise disposal 2
    (restore-background) and 3 (restore-previous) plus transparency."""
    import numpy as np

    pal = np.frombuffer(_hash_bytes(_mix(401, i), 64 * 3), np.uint8).reshape(64, 3)
    variant = _mix(443, i) % 4  # i%6==4 for every gif_anim, so derive the
    # layout from the hash, not from i's (constant) parity
    if variant in (1, 3):
        left, top = 3, 2
        fh, fw = h - 6, w - 5
    else:
        left = top = 0
        fh, fw = h, w
    idx0 = (
        np.frombuffer(_hash_bytes(_mix(409, i), fh * fw), np.uint8).reshape(fh, fw)
        % 64
    )
    frames = [
        {
            "indices": idx0,
            "left": left,
            "top": top,
            "transparent": 7 if variant in (2, 3) else None,
            "disposal": (1, 2, 3)[i % 3],
            "delay_ms": 40,
        },
        {
            "indices": np.frombuffer(
                _hash_bytes(_mix(419, i), (h // 2) * (w // 2)), np.uint8
            ).reshape(h // 2, w // 2)
            % 64,
            "left": 1,
            "top": 1,
            "transparent": 5,
            "disposal": 2,
            "delay_ms": 50,
        },
        {
            "indices": np.frombuffer(
                _hash_bytes(_mix(421, i), (h // 3) * (w // 3)), np.uint8
            ).reshape(h // 3, w // 3)
            % 64,
            "left": 2,
            "top": 0,
            "disposal": 3,
            "delay_ms": 60,
        },
    ]
    return pal, frames


def _webp_anim_frames(i: int, h: int, w: int):
    """Deterministic recipe for animated-WebP asset ``i``:
    [(x, y, dur_ms, flags, rgba)] for the ANMF muxer. Frame 0 overwrites
    the full canvas (so the first-frame composite equals its pixels);
    frames 1-2 exercise alpha-blend and dispose-to-background at offsets."""
    import numpy as np

    f0 = np.frombuffer(_hash_bytes(_mix(431, i), h * w * 4), np.uint8).reshape(
        h, w, 4
    )
    f1 = np.frombuffer(
        _hash_bytes(_mix(433, i), (h // 2) * (w // 2) * 4), np.uint8
    ).reshape(h // 2, w // 2, 4)
    f2 = np.frombuffer(
        _hash_bytes(_mix(439, i), (h // 3) * (w // 3) * 4), np.uint8
    ).reshape(h // 3, w // 3, 4)
    return [
        (0, 0, 40, 0x02, f0),  # overwrite full canvas
        (2, 4, 50, 0x00, f1),  # alpha-blend at (2,4)
        (4, 2, 60, 0x02 | 0x01, f2),  # overwrite, then dispose rect to bg
    ]


def image_pixels(i: int):
    """Source pixels of synthetic image asset ``i`` (uint8 HxWxC; C=4 for
    png_rgba/webp/webp_anim, 3 for png_rgb, 2 for gray+alpha; gif_anim /
    webp_anim yield the FIRST-FRAME COMPOSITE the engine's animation
    decoders must produce). The single source of truth shared by
    ``write_images`` (which encodes them into containers) and the
    sequential oracle (which recomputes expected thumbnails from the same
    pixels WITHOUT the engine's decoders — so the engine's container
    decode, including animation compositing, is part of what the oracle
    checks)."""
    import numpy as np

    kind = image_kind(i)
    h, w = _image_dims(i)
    if kind == "gif_anim":
        pal, frames = _gif_anim_parts(i, h, w)
        f0 = frames[0]
        idx = f0["indices"]
        fh, fw = idx.shape
        canvas = np.zeros((h, w, 4), dtype=np.uint8)
        opaque = (
            np.ones((fh, fw), dtype=bool)
            if f0["transparent"] is None
            else idx != f0["transparent"]
        )
        region = canvas[f0["top"] : f0["top"] + fh, f0["left"] : f0["left"] + fw]
        region[..., :3][opaque] = pal[idx][opaque]
        region[..., 3][opaque] = 255
        if bool((canvas[..., 3] == 255).all()):
            return np.ascontiguousarray(canvas[..., :3])  # decode_gif RGB path
        return canvas
    if kind == "webp_anim":
        return _webp_anim_frames(i, h, w)[0][4]
    c = {"png_rgba": 4, "png_rgb": 3, "png_ga": 2, "webp": 4}[kind]
    noise = np.frombuffer(_hash_bytes(i, h * w * c), dtype=np.uint8).reshape(h, w, c)
    # blend a smooth gradient into channel 0 so thumbnails exercise real
    # bilinear mixing, not just noise averaging
    gy = np.linspace(0.0, 255.0, h)[:, None]
    gx = np.linspace(0.0, 255.0, w)[None, :]
    out = noise.copy()
    out[..., 0] = np.clip(
        np.rint(noise[..., 0] * 0.5 + (gy + gx) * 0.25), 0, 255
    ).astype(np.uint8)
    return out


def _encode_png(arr, color_type: int) -> bytes:
    """Minimal PNG writer for the generator (filter-0 rows, zlib level 6):
    colour types 2 (RGB), 4 (gray+alpha), 6 (RGBA)."""
    h, w = arr.shape[:2]
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _mux_webp_anim(cw: int, ch: int, frames) -> bytes:
    """Animated-WebP container (VP8X + ANIM/ANMF) from RGBA frames, each
    VP8L-encoded. frames: [(x, y, dur_ms, flags, rgba)]; x/y must be even
    (the ANMF header stores them halved)."""
    from media_codecs.vp8l import (
        encode_webp_lossless,
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            tag
            + len(body).to_bytes(4, "little")
            + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    vp8x = (
        bytes([0x02, 0, 0, 0])
        + (cw - 1).to_bytes(3, "little")
        + (ch - 1).to_bytes(3, "little")
    )
    out = chunk(b"VP8X", vp8x)
    out += chunk(b"ANIM", bytes([0, 0, 0, 0]) + (0).to_bytes(2, "little"))
    for x, y, dur, flags, px in frames:
        still = encode_webp_lossless(px)
        fh, fw = px.shape[:2]
        body = (
            (x // 2).to_bytes(3, "little")
            + (y // 2).to_bytes(3, "little")
            + (fw - 1).to_bytes(3, "little")
            + (fh - 1).to_bytes(3, "little")
            + dur.to_bytes(3, "little")
            + bytes([flags])
            + still[12:]  # strip RIFF....WEBP, keep the image chunks
        )
        out += chunk(b"ANMF", body)
    return b"RIFF" + (4 + len(out)).to_bytes(4, "little") + b"WEBP" + out


def write_images(out_dir: str | Path) -> Path:
    """Deterministic image-asset table (asset_id, payload) across lossless
    containers the engine decodes from scratch (PNG colour types 2/4/6,
    WebP-lossless, animated GIF, animated WebP), plus corrupt payloads for
    the per-row quarantine path."""
    from media_codecs.gif import encode_gif_anim
    from media_codecs.vp8l import (
        encode_webp_lossless,
    )

    ids, payloads = [], []
    for i in range(IMAGE_COUNT):
        kind = image_kind(i)
        h, w = _image_dims(i)
        if kind == "webp":
            payload = encode_webp_lossless(image_pixels(i))
        elif kind == "gif_anim":
            pal, frames = _gif_anim_parts(i, h, w)
            payload = encode_gif_anim((w, h), pal, frames)
        elif kind == "webp_anim":
            payload = _mux_webp_anim(w, h, _webp_anim_frames(i, h, w))
        else:
            ct = {"png_rgba": 6, "png_rgb": 2, "png_ga": 4}[kind]
            payload = _encode_png(image_pixels(i), ct)
        ids.append(f"img{i:03d}_{kind}")
        payloads.append(payload)
    ids.append("img_corrupt_png")
    payloads.append(b"\x89PNG\r\n\x1a\n" + _hash_bytes(9001, 40))
    ids.append("img_corrupt_webp")
    payloads.append(b"RIFF\x20\x00\x00\x00WEBPVP8L\x08\x00\x00\x00" + b"\x00" * 8)
    ids.append("img_corrupt_gif")
    payloads.append(b"GIF89a" + _hash_bytes(9002, 40))
    out = Path(out_dir) / "images.parquet"
    pq.write_table(
        pa.table({"asset_id": pa.array(ids, pa.string()), "payload": pa.array(payloads, pa.binary())}),
        out,
    )
    return out


AUDIO_COUNT = 40
AUDIO_KINDS = ("wav16", "flac", "mp3", "ulaw", "vorbis")


def audio_kind(i: int) -> str:
    return AUDIO_KINDS[i % len(AUDIO_KINDS)]


def audio_spec(i: int) -> dict:
    """Deterministic recipe for audio asset ``i``: a pure sine with known
    analytic amplitude/rms — the oracle side of audio_metadata derives
    expected timing exactly and rms/peak tolerance bands from this spec,
    independent of any decoder."""
    kind = audio_kind(i)
    if kind == "mp3":
        rate = (44100, 48000, 32000)[_mix(501, i) % 3]
        seconds = 0.5
        # round 7: rotate the mp3 assets through the escape tables
        # (code tables 16/24 with linbits — the real-web Layer III shape)
        # so the audio_metadata check gates the escape decode path; None keeps the
        # round-6 non-escape table for continuity
        tables = (None, 16, 20, 24, 28, 31, 17, 25)
        spec = {"mp3_table": tables[(i // len(AUDIO_KINDS)) % len(tables)]}
    elif kind == "vorbis":
        rate = (44100, 48000, 32000)[_mix(501, i) % 3]
        seconds = 0.25
        spec = {}
    else:
        rate = (8000, 16000, 44100)[_mix(501, i) % 3]
        seconds = 0.25
        spec = {}
    n = int(rate * seconds)
    freq = 200.0 + (_mix(503, i) % 2000)
    # keep the tone away from Nyquist so analytic rms ≈ amp/sqrt(2) holds
    freq = min(freq, rate / 2.5)
    amp = 0.2 + (_mix(509, i) % 60) / 100.0
    spec.update({"kind": kind, "rate": rate, "n": n, "freq": freq, "amp": amp})
    return spec


def audio_samples(i: int):
    import numpy as np

    sp = audio_spec(i)
    t = np.arange(sp["n"], dtype=np.float64)
    return sp["amp"] * np.sin(2.0 * np.pi * sp["freq"] * t / sp["rate"])


def _wav_container(fmt_code: int, channels: int, rate: int, bits: int,
                   body: bytes) -> bytes:
    byte_rate = rate * channels * bits // 8
    fmt = struct.pack("<HHIIHH", fmt_code, channels, rate, byte_rate,
                      max(1, channels * bits // 8), bits)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def write_audio(out_dir: str | Path) -> Path:
    """Deterministic audio-asset table (asset_id, payload): PCM16 WAV,
    FLAC, MPEG-1 Layer III, Ogg Vorbis (both round-6 from-scratch
    codecs) and G.711 µ-law WAV sines, plus a corrupt payload for the
    quarantine path."""
    import numpy as np

    from media_codecs.flac import encode_flac
    from media_codecs.mp3 import encode_mp3
    from media_codecs.pcm_codecs import (
        mulaw_encode,
    )
    from media_codecs.vorbis import (
        encode_vorbis,
    )

    ids, payloads = [], []
    for i in range(AUDIO_COUNT):
        sp = audio_spec(i)
        x = audio_samples(i)
        pcm16 = np.round(x * 32767.0).astype(np.int16)
        if sp["kind"] == "wav16":
            payload = _wav_container(1, 1, sp["rate"], 16, pcm16.tobytes())
        elif sp["kind"] == "flac":
            payload = encode_flac(pcm16.astype(np.int64), rate=sp["rate"])
        elif sp["kind"] == "mp3":
            payload = encode_mp3(x, sp["rate"], table_id=sp["mp3_table"])
        elif sp["kind"] == "vorbis":
            payload = encode_vorbis(x, sp["rate"])
        else:  # ulaw
            payload = _wav_container(7, 1, sp["rate"], 8, mulaw_encode(pcm16))
        ids.append(f"aud{i:03d}_{sp['kind']}")
        payloads.append(payload)
    ids.append("aud_corrupt")
    payloads.append(b"RIFF\x10\x00\x00\x00WAVEjunk" + _hash_bytes(9003, 32))
    out = Path(out_dir) / "audio.parquet"
    pq.write_table(
        pa.table({"asset_id": pa.array(ids, pa.string()),
                  "payload": pa.array(payloads, pa.binary())}),
        out,
    )
    return out


# ── video assets (avc1-in-MP4, round-6 H.264 decode gate) ──────────────────

VIDEO_COUNT = 20  # 0-13 all-IDR intra clips; 14-19 IPP GOPs (P frames)
VIDEO_EVERY_MS = 250  # sampling cadence the video_frames oracle uses


def video_spec(i: int) -> dict:
    """Deterministic recipe for video asset ``i``: frame geometry/timing
    plus the exact encoder options (media_codecs/h264.encode_h264_frames).
    The video_frames oracle re-derives expected timing from this
    spec and expected pixel hashes from the ENCODER's reconstruction —
    the from-scratch H.264 *decoder* is never consulted by the oracle, so
    a decode bug (entropy parse, context modeling, prediction, dequant,
    deblock) hash-mismatches at the driver."""
    w = 24 + (_mix(601, i) % 5) * 8  # 24..56 px, even
    h = 16 + (_mix(602, i) % 4) * 10  # 16/26/36/46 px, even
    n_frames = 2 + _mix(603, i) % 3
    delta_ms = 200 + (_mix(604, i) % 3) * 100
    qp = 12 + (_mix(605, i) % 8) * 5  # 12..47
    enc = {"qp": qp, "seed": i}
    if i >= 14:
        # IPP GOPs: IDR + P frames (P_Skip runs, 16x16/16x8/8x16/P_8x8
        # partitions, quarter-pel MVs, intra-in-P), sequential-DPB decode
        enc["gop"] = "ipp"
        n_frames = 5 + _mix(603, i) % 3
        if i % 3 == 1:
            enc["idr_every"] = 3
        elif i % 3 == 2:
            enc["deblock"] = False
        if 16 <= i <= 18:
            # round 7: IPP GOPs under CABAC too — mb_skip_flag, P mb_type
            # tree, sub_mb_type, ref_idx, UEG3 mvd, inter cbf contexts
            enc["entropy"] = "cabac"
    else:
        variant = i % 5
        if variant == 1:
            enc["pcm_every"] = 3
        elif variant == 2:
            enc["n_slices"] = 2
        elif variant == 3:
            enc["deblock"] = False
        elif variant == 4:
            enc["qp_jitter"] = 5
            enc["chroma_qp_off"] = 6 - (_mix(607, i) % 13)
        if 5 <= i <= 9:
            # round 7: one of each intra variant re-encoded with CABAC
            # (entropy_coding_mode_flag=1, I-slice syntax + arithmetic
            # engine of media_codecs/cabac.py; SEI provenance marker in every
            # AU). The oracle recons are entropy-independent, so the
            # decoder must parse the arithmetic stream bit-exactly for the
            # driver hashes to keep matching.
            enc["entropy"] = "cabac"
    return {"w": w, "h": h, "n_frames": n_frames, "delta_ms": delta_ms,
            "blocky": _mix(606, i) % 2 == 1, "enc": enc}


def video_frames(i: int) -> list:
    """Deterministic (y, u, v) source planes per frame: moving gradients,
    optionally hard 8x8 block edges (exercises cbp / deblock paths)."""
    import numpy as np

    sp = video_spec(i)
    h, w = sp["h"], sp["w"]
    yy, xx = np.mgrid[0:h, 0:w]
    frames = []
    for f in range(sp["n_frames"]):
        base = (xx * 3 + yy * 2 + f * 37 + i * 11) % 256
        if sp["blocky"]:
            base = np.where((xx // 8 + yy // 8 + f) % 2 == 0, base, 255 - base)
        y = base.astype(np.uint8)
        u = ((xx[::2, ::2] * 5 + f * 13 + i * 7) % 256).astype(np.uint8)
        v = ((yy[::2, ::2] * 4 + f * 29 + i * 3) % 256).astype(np.uint8)
        frames.append((y, u, v))
    return frames


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def mux_avc1_mp4(sps: bytes, pps: bytes, samples: list, width: int,
                 height: int, delta_ms: int, timescale: int = 1000) -> bytes:
    """Minimal conformant ISO-BMFF mux: ftyp + mdat + moov with one video
    trak (stsd avc1+avcC, stts/stsz/stsc/stco), 4-byte NAL lengths."""
    avcc = (bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
            + struct.pack(">H", len(sps)) + sps
            + bytes([1]) + struct.pack(">H", len(pps)) + pps)
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomavc1")
    base = len(ftyp) + 8
    offs, sizes = [], []
    off = base
    for s in samples:
        offs.append(off)
        sizes.append(len(s))
        off += len(s)
    mdat = _box(b"mdat", b"".join(samples))
    vse = (b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
           + struct.pack(">HH", width, height)
           + struct.pack(">II", 0x00480000, 0x00480000) + b"\x00" * 4
           + struct.pack(">H", 1) + b"\x00" * 32 + struct.pack(">H", 24)
           + struct.pack(">h", -1))
    avc1 = _box(b"avc1", vse + _box(b"avcC", avcc))
    n = len(samples)
    delta = delta_ms * timescale // 1000
    stbl = _box(
        b"stbl",
        _box(b"stsd", struct.pack(">II", 0, 1) + avc1)
        + _box(b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", n, delta))
        + _box(b"stsz", struct.pack(">III", 0, 0, n)
               + b"".join(struct.pack(">I", s) for s in sizes))
        + _box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 1, 1))
        + _box(b"stco", struct.pack(">II", 0, n)
               + b"".join(struct.pack(">I", o) for o in offs)),
    )
    mdhd = _box(b"mdhd", struct.pack(">I", 0)
                + struct.pack(">IIIIHH", 0, 0, timescale, n * delta, 0, 0))
    hdlr = _box(b"hdlr", struct.pack(">I", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 12)
    mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
    return ftyp + mdat + _box(b"moov", _box(b"trak", mdia))


# the chain-break asset: an IPP clip whose second sample (a P frame) is
# truncated — frames 1 and 2 must surface per-frame decode errors (the
# decoder refuses to decode P frames against a broken reference chain)
# and decoding must RESUME at the frame-3 IDR. Shared constants so the
# oracle derives the same expectation from the spec alone.
CHAINBREAK_SPEC = {"w": 32, "h": 26, "n_frames": 6, "delta_ms": 300,
                   "enc": {"qp": 30, "seed": 77, "gop": "ipp", "idr_every": 3}}
CHAINBREAK_BROKEN = {1, 2}  # truncated P + the poisoned follower


def chainbreak_frames() -> list:
    import numpy as np

    sp = CHAINBREAK_SPEC
    h, w = sp["h"], sp["w"]
    yy, xx = np.mgrid[0:h, 0:w]
    frames = []
    for f in range(sp["n_frames"]):
        y = ((xx * 5 + yy * 3 + f * 41) % 256).astype(np.uint8)
        frames.append((y, (y[::2, ::2] // 3 + 40).astype(np.uint8),
                       ((yy[::2, ::2] * 7 + f * 19) % 256).astype(np.uint8)))
    return frames


def chainbreak_payload() -> bytes:
    import struct as _struct

    from media_codecs.h264 import (
        encode_h264_frames,
    )

    sp = CHAINBREAK_SPEC
    enc = encode_h264_frames(chainbreak_frames(), **sp["enc"])
    samples = [
        b"".join(_struct.pack(">I", len(n)) + n for n in nals)
        for nals in enc["samples"]
    ]
    samples[1] = samples[1][: len(samples[1]) // 2]  # truncate the P frame
    return mux_avc1_mp4(enc["sps"], enc["pps"], samples,
                        sp["w"], sp["h"], sp["delta_ms"])


def write_videos(out_dir: str | Path) -> Path:
    """Deterministic video-asset table (asset_id, payload): avc1-in-MP4
    clips encoded by the in-repo conformant all-intra H.264 encoder
    across QP / I_PCM / multi-slice / no-deblock / QP-jitter variants,
    plus a corrupt payload for the quarantine path."""
    import struct as _struct

    from media_codecs.h264 import (
        encode_h264_frames,
    )

    ids, payloads = [], []
    for i in range(VIDEO_COUNT):
        sp = video_spec(i)
        enc = encode_h264_frames(video_frames(i), **sp["enc"])
        samples = [
            b"".join(_struct.pack(">I", len(n)) + n for n in nals)
            for nals in enc["samples"]
        ]
        payload = mux_avc1_mp4(enc["sps"], enc["pps"], samples,
                               sp["w"], sp["h"], sp["delta_ms"])
        ids.append(f"vid{i:03d}_avc1")
        payloads.append(payload)
    ids.append("vid_chainbreak_avc1")
    payloads.append(chainbreak_payload())
    ids.append("vid_corrupt")
    payloads.append(b"\x00\x00\x00\x20ftypisom" + _hash_bytes(9005, 64))
    out = Path(out_dir) / "videos.parquet"
    pq.write_table(
        pa.table({"asset_id": pa.array(ids, pa.string()),
                  "payload": pa.array(payloads, pa.binary())}),
        out,
    )
    return out


