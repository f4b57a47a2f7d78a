"""G.711 A-law/µ-law + IMA ADPCM codecs (media_codecs/pcm_codecs.py) and their
WAVE integration (formats 6/7/0x11 in audio_metadata's _parse_wav)."""

from __future__ import annotations

import struct

import numpy as np

from media_codecs import pcm_codecs as PC
from media_codecs.multimodal import _parse_wav


def test_g711_anchor_values():
    # published anchor points: µ-law 0xFF decodes to 0; A-law has no true
    # zero — codes 0xD5/0x55 decode to the ±8 minimum magnitude
    assert PC.mulaw_decode(b"\xff")[0] == 0
    assert PC.alaw_decode(b"\xd5")[0] == 8
    assert PC.alaw_decode(b"\x55")[0] == -8
    # µ-law maximum magnitude is ±32124 (code 0x80 positive, 0x00 negative)
    assert PC.mulaw_decode(b"\x80")[0] == 32124
    assert PC.mulaw_decode(b"\x00")[0] == -32124
    # A-law maximum magnitude is ±(0x1F8 << 6) = ±32256 >> 1 ... = ±32256/2:
    # codes 0xAA (positive) / 0x2A (negative) carry the top segment+mantissa
    assert PC.alaw_decode(b"\xaa")[0] == -PC.alaw_decode(b"\x2a")[0]
    assert abs(int(PC.alaw_decode(b"\xaa")[0])) in (32256 // 2, 32256)


def test_g711_codebook_idempotence():
    # encode(decode(code)) == code for every code (µ-law: except the -0
    # code 0x7F which canonicalizes to 0xFF)
    for code in range(256):
        dec = int(PC.mulaw_decode(bytes([code]))[0])
        re = PC.mulaw_encode(np.array([dec]))[0]
        if code != 0x7F:
            assert re == code, (code, dec, re)
        dec_a = int(PC.alaw_decode(bytes([code]))[0])
        re_a = PC.alaw_encode(np.array([dec_a]))[0]
        assert re_a == code, (code, dec_a, re_a)


def test_g711_quantization_error_bound():
    rng = np.random.default_rng(3)
    xs = rng.integers(-32000, 32000, 4000)
    mu = PC.mulaw_decode(PC.mulaw_encode(xs))
    al = PC.alaw_decode(PC.alaw_encode(xs))
    # error ≤ half the widest segment step (µ-law: 256 linear units in the
    # top segment → ≤ 1024 with bias; A-law top step 1024 → ≤ 512 + bias)
    assert np.abs(mu.astype(np.int64) - xs).max() <= 1024
    assert np.abs(al.astype(np.int64) - xs).max() <= 1024


def test_ima_adpcm_roundtrip_tracks_signal():
    t = np.arange(3000)
    sine = (10000 * np.sin(2 * np.pi * t / 100)).astype(np.int16)
    data, align = PC.ima_adpcm_encode(sine, 1, samples_per_block=505)
    dec = PC.ima_adpcm_decode(data, 1, align)
    assert dec.shape[1] == 1
    n = min(len(sine), dec.shape[0])
    # first sample of each block is verbatim
    assert dec[0, 0] == sine[0]
    err = np.abs(dec[:n, 0].astype(np.int64) - sine[:n].astype(np.int64))
    # the step index starts at 0 so the first half-cycle ramps (~8 samples
    # of slew-limited error); steady-state tracking is tight
    assert err.max() < 3000 and float(err.mean()) < 100
    assert err[100:].max() < 800
    # stereo: channels decode independently and track
    stereo = np.stack([sine, -sine], axis=1)
    d2, a2 = PC.ima_adpcm_encode(stereo, 2, samples_per_block=129)
    dd = PC.ima_adpcm_decode(d2, 2, a2)
    assert dd.shape[1] == 2
    m = min(n, dd.shape[0])
    assert np.abs(dd[:m, 0].astype(np.int64) - sine[:m]).max() < 3000
    assert np.abs(dd[:m, 1].astype(np.int64) + sine[:m]).max() < 3000


def _wav(fmt: int, channels: int, rate: int, bits: int, block_align: int, payload: bytes) -> bytes:
    fmt_body = struct.pack("<HHIIHH", fmt, channels, rate, rate * block_align, block_align, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
    chunks += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_g711_and_adpcm():
    t = np.arange(1600)
    sine = (8000 * np.sin(2 * np.pi * t / 80)).astype(np.int16)
    # µ-law mono 8k
    mu = PC.mulaw_encode(sine)
    meta = _parse_wav(_wav(7, 1, 8000, 8, 1, mu))
    dec = PC.mulaw_decode(mu).astype(np.float64) / 32768.0
    assert meta["sample_rate"] == 8000 and meta["channels"] == 1
    assert meta["n_samples"] == 1600 and meta["duration_ms"] == 200
    assert meta["rms"] == round(float(np.sqrt(np.mean(dec * dec))), 6)
    # A-law
    al = PC.alaw_encode(sine)
    meta_a = _parse_wav(_wav(6, 1, 8000, 8, 1, al))
    dec_a = PC.alaw_decode(al).astype(np.float64) / 32768.0
    assert meta_a["rms"] == round(float(np.sqrt(np.mean(dec_a * dec_a))), 6)
    assert meta_a["bits_per_sample"] == 8
    # IMA ADPCM stereo
    stereo = np.stack([sine, (sine // 2).astype(np.int16)], axis=1)
    data, align = PC.ima_adpcm_encode(stereo, 2, samples_per_block=249)
    meta_i = _parse_wav(_wav(0x11, 2, 22050, 4, align, data))
    dd = PC.ima_adpcm_decode(data, 2, align).reshape(-1).astype(np.float64) / 32768.0
    assert meta_i["bits_per_sample"] == 4 and meta_i["channels"] == 2
    assert meta_i["rms"] == round(float(np.sqrt(np.mean(dd * dd))), 6)
    assert meta_i["peak"] == round(float(np.max(np.abs(dd))), 6)
    # unsupported compressed format still quarantines
    import pytest

    with pytest.raises(ValueError, match="unsupported WAVE format"):
        _parse_wav(_wav(2, 1, 8000, 4, 256, b"\x00" * 256))
