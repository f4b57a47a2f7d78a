"""FLAC frame codec (media_codecs/flac.py) — round-trip, hand-crafted LPC and
raw-escape bitstreams, CRC enforcement, and the audio_metadata integration
(true rms/peak for a compressed format)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from media_codecs import flac as FL
from media_codecs.multimodal import _parse_flac


def _audio_start(enc: bytes) -> int:
    pos = 4
    while True:
        last = enc[pos] & 0x80
        size = int.from_bytes(enc[pos + 1 : pos + 4], "big")
        pos += 4 + size
        if last:
            return pos


def _decode(enc: bytes, channels: int, bps: int, rate: int = 44100) -> np.ndarray:
    return FL.decode_frames(enc, _audio_start(enc), rate, channels, bps)


def test_roundtrip_modes_depths_and_stereo():
    rng = np.random.default_rng(42)
    for bps in (8, 16, 24):
        lim = 2 ** (bps - 1) // 4
        mono = rng.integers(-lim, lim, 1003).astype(np.int64)  # ragged last block
        stereo = rng.integers(-lim, lim, (777, 2)).astype(np.int64)
        for mode in ("fixed2", "verbatim"):
            enc = FL.encode_flac(mono, 44100, bps, block=256, mode=mode)
            assert (_decode(enc, 1, bps)[:, 0] == mono).all()
        for sm in ("independent", "mid-side"):
            enc = FL.encode_flac(stereo, 44100, bps, block=192, stereo_mode=sm)
            assert (_decode(enc, 2, bps) == stereo).all()
    const = np.full(300, -9, dtype=np.int64)
    enc = FL.encode_flac(const, 8000, 16)
    assert (_decode(enc, 1, 16, 8000)[:, 0] == const).all()


def _handmade_frame(subframe_bits, block_size: int, rate_code: int = 9,
                    size_code: int = 4, chan_code: int = 0) -> bytes:
    """Build one frame around custom subframe payload bits."""
    w = FL._BitWriter()
    w.write(0x3FFE, 14)
    w.write(0, 1)
    w.write(0, 1)
    w.write(7, 4)  # 16-bit block size at end
    w.write(rate_code, 4)
    w.write(chan_code, 4)
    w.write(size_code, 3)
    w.write(0, 1)
    w.write(0, 8)  # frame number 0 (utf-8 single byte)
    w.write(block_size - 1, 16)
    w.align()
    head = w.bytes()
    head += bytes([FL.crc8(head)])
    w2 = FL._BitWriter()
    subframe_bits(w2)
    w2.align()
    frame = head + w2.bytes()
    return frame + struct.pack(">H", FL.crc16(frame))


def _wrap_streaminfo(frames: bytes, n: int, channels: int = 1, bps: int = 16,
                     rate: int = 44100) -> bytes:
    si = bytearray()
    si += struct.pack(">HH", 16, 65535)
    si += b"\x00\x00\x00" * 2
    si += struct.pack(">Q", (rate << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | n)
    si += b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si) + frames


def test_handmade_lpc_subframe_decodes():
    """LPC decode path (our encoder never emits LPC): order-2 predictor,
    precision 12, shift 5, with rice-coded residual."""
    n = 64
    order, prec, shift = 2, 12, 5
    coefs = [20, 11]  # (20a + 11b) >> 5 ≈ 0.97·signal — a stable predictor
    rng = np.random.default_rng(1)
    resid = rng.integers(-40, 40, n - order).tolist()
    warm = [100, 130]
    s = list(warm)
    for i in range(order, n):
        acc = sum(coefs[j] * s[i - 1 - j] for j in range(order))
        s.append(resid[i - order] + (acc >> shift))
    param = 7

    def bits(w):
        w.write(0, 1)
        w.write(32 + (order - 1), 6)  # LPC, order 2
        w.write(0, 1)  # no wasted bits
        for v in warm:
            w.write(v, 16)
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c, prec)
        w.write(0, 2)  # rice 4-bit
        w.write(0, 4)  # partition order 0
        w.write(param, 4)
        FL._write_rice(w, resid, param)

    enc = _wrap_streaminfo(_handmade_frame(bits, n), n)
    dec = _decode(enc, 1, 16)
    assert dec[:, 0].tolist() == s


def test_handmade_escape_partition_and_wasted_bits():
    """Raw-escape residual partitions + the wasted-bits shift."""
    n = 32
    vals = [v * 2 for v in range(-8, 8)] * 2  # all even → 1 wasted bit

    def bits(w):
        w.write(0, 1)
        w.write(8, 6)  # FIXED order 0
        w.write(1, 1)  # wasted-bits flag
        w.write(1, 1)  # unary 0 → wasted = 1
        # residual = the samples themselves (order 0), effective bps 15
        w.write(0, 2)
        w.write(1, 4)  # partition order 1 → two partitions of 16
        for part in (vals[:16], vals[16:]):
            w.write(0xF, 4)  # escape
            w.write(9, 5)  # 9 raw bits each
            for v in part:
                w.write(v >> 1, 9)

    enc = _wrap_streaminfo(_handmade_frame(bits, n), n)
    dec = _decode(enc, 1, 16)
    assert dec[:, 0].tolist() == vals


def test_crc_enforced_and_parse_flac_falls_back():
    mono = np.arange(-50, 50, dtype=np.int64)
    enc = bytearray(FL.encode_flac(mono, 44100, 16, block=64))
    meta = _parse_flac(bytes(enc))
    x = mono.astype(np.float64) / 32768.0
    assert meta["rms"] == round(float(np.sqrt(np.mean(x * x))), 6)
    assert meta["peak"] == round(float(np.max(np.abs(x))), 6)
    assert meta["n_samples"] == 100 and meta["duration_ms"] == 2
    # flip one bit inside the audio frames → CRC mismatch → decode_frames
    # raises; _parse_flac falls back to STREAMINFO-only metadata
    start = _audio_start(bytes(enc))
    corrupt = bytearray(enc)
    corrupt[start + 10] ^= 0x10
    with pytest.raises(ValueError):
        FL.decode_frames(bytes(corrupt), start, 44100, 1, 16)
    meta2 = _parse_flac(bytes(corrupt))
    assert meta2["rms"] is None and meta2["n_samples"] == 100


def test_audio_metadata_decodes_flac_samples(spark):
    from media_codecs.multimodal import (
        audio_metadata,
    )

    rng = np.random.default_rng(9)
    stereo = rng.integers(-6000, 6000, (500, 2)).astype(np.int64)
    enc = FL.encode_flac(stereo, 48000, 16, block=192, stereo_mode="mid-side")
    df = spark.createDataFrame([("a", bytearray(enc))], "asset_id string, payload binary")
    row = audio_metadata(df).collect()[0]
    x = stereo.astype(np.float64) / 32768.0
    assert row.decode_error is None
    assert row.sample_rate == 48000 and row.channels == 2
    assert row.n_samples == 500
    assert row.rms == round(float(np.sqrt(np.mean(x * x))), 6)
    assert row.peak == round(float(np.max(np.abs(x))), 6)


def test_trailing_garbage_strictness_consistent():
    """1 trailing byte after the last frame is rejected exactly like 2+
    (round-5 ADVICE fix: decode_frames used to silently ignore a single
    trailing byte)."""
    mono = np.arange(-50, 50, dtype=np.int64)
    enc = bytes(FL.encode_flac(mono, 44100, 16, block=64))
    start = _audio_start(enc)
    assert FL.decode_frames(enc, start, 44100, 1, 16).shape == (100, 1)
    for extra in (b"\x00", b"\x00\x00"):
        with pytest.raises(ValueError, match="trailing|frame sync"):
            FL.decode_frames(enc + extra, start, 44100, 1, 16)
