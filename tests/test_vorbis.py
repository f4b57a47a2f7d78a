"""Vorbis I codec tests (media_codecs/vorbis.py) — tiered like test_mp3:
spec-constant pins, transform round-trip identity, encoder→decoder
goldens against analytic sine statistics, window-transition and
silent-frame path coverage, EOP legality, and hostile-input fuzz.
No libvorbis exists in this container (checked), so the in-repo
encoder is the stream source; its conformance is itself pinned by the
spec-constant and packet-structure tests."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from media_codecs import vorbis as V


def _packets_of(data: bytes):
    """Minimal Ogg lacing walk (the engine's full demuxer with CRC checks
    lives in media_codecs/multimodal._parse_ogg and has its own tests)."""
    pos = 0
    packets = []
    cur = bytearray()
    granule = 0
    while pos + 27 <= len(data):
        if data[pos:pos + 4] != b"OggS":
            break
        (g,) = struct.unpack_from("<q", data, pos + 6)
        nseg = data[pos + 26]
        lacing = data[pos + 27:pos + 27 + nseg]
        body = pos + 27 + nseg
        off = body
        for lace in lacing:
            cur += data[off:off + lace]
            off += lace
            if lace < 255:
                packets.append(bytes(cur))
                cur = bytearray()
        if g > 0:
            granule = max(granule, g)
        pos = body + sum(lacing)
    return packets, granule


def _sine(rate=44100, seconds=0.3, freq=440.0, amp=0.6):
    t = np.arange(int(rate * seconds))
    return amp * np.sin(2 * np.pi * freq * t / rate)


# ── spec-constant pins ──────────────────────────────────────────────────────


def test_floor1_inverse_db_table_pins():
    tab = V.floor1_inverse_db_table()
    # published table endpoints (Vorbis I spec §10.1)
    assert tab[0] == pytest.approx(1.0649863e-07, rel=1e-5)
    assert tab[254] == pytest.approx(0.9389798, rel=1e-5)
    assert tab[255] == 1.0
    assert np.all(np.diff(tab) > 0)


def test_huffman_assignment_spec_worked_example():
    # spec §3.2.1: lengths [2,4,4,4,4,2,3,3] ->
    # 00, 0100, 0101, 0110, 0111, 10, 110, 111
    table = V.assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    want = {
        (2, 0b00): 0, (4, 0b0100): 1, (4, 0b0101): 2, (4, 0b0110): 3,
        (4, 0b0111): 4, (2, 0b10): 5, (3, 0b110): 6, (3, 0b111): 7,
    }
    assert table == want


def test_huffman_oversubscribed_raises():
    with pytest.raises(ValueError):
        V.assign_codewords([1, 1, 1])


def test_huffman_sparse_unused_entries():
    table = V.assign_codewords([None, 1, None, 1])
    assert table == {(1, 0): 1, (1, 1): 3}


def test_float32_pack_unpack_roundtrip():
    rng = np.random.default_rng(11)
    for _ in range(500):
        v = float(rng.uniform(-1, 1)) * 10.0 ** int(rng.integers(-6, 7))
        if v == 0.0:
            continue
        back = V.float32_unpack(V.float32_pack(v))
        assert back == pytest.approx(v, rel=1e-6)
    assert V.float32_unpack(V.float32_pack(0.0)) == 0.0


def test_ilog_and_lookup1_values():
    assert [V.ilog(x) for x in (0, 1, 2, 3, 4, 7)] == [0, 1, 2, 2, 3, 3]
    assert V.lookup1_values(64, 1) == 64
    assert V.lookup1_values(256, 2) == 16
    assert V.lookup1_values(257, 2) == 16
    assert V.lookup1_values(255, 2) == 15


def test_inverse_couple_quadrants():
    # spec §4.3.5 four-quadrant square-polar mapping, vs a scalar oracle
    def scalar(m, a):
        if m > 0:
            return (m, m - a) if a > 0 else (m + a, m)
        return (m, m + a) if a > 0 else (m - a, m)

    rng = np.random.default_rng(5)
    m = rng.uniform(-4, 4, 64)
    a = rng.uniform(-4, 4, 64)
    nm, na = V.inverse_couple(m, a)
    for i in range(64):
        sm, sa = scalar(m[i], a[i])
        assert nm[i] == sm and na[i] == sa


# ── transform identity ──────────────────────────────────────────────────────


def test_mdct_imdct_tdac_reconstruction():
    n, n2 = 1024, 512
    w = np.concatenate([V._slope(n2), V._slope(n2)[::-1]])
    # Princen-Bradley: consecutive frames overlap ascending-vs-descending
    # halves at aligned positions — w[i]^2 + w[n2+i]^2 == 1
    assert np.allclose(w[:n2] ** 2 + w[n2:] ** 2, 1.0, atol=1e-12)
    rng = np.random.default_rng(7)
    x = rng.standard_normal(6 * n2)
    recon = np.zeros_like(x)
    for f in range(5):
        sl = x[f * n2:f * n2 + n]
        recon[f * n2:f * n2 + n] += V.imdct(V.mdct(w * sl)) * w
    assert np.abs(recon[n2:5 * n2] - x[n2:5 * n2]).max() < 1e-10


def test_frame_window_transition_alignment():
    # short(1024) -> long(2048, prev_flag=0): the long block's left slope
    # must mirror the short block's right slope so squares sum to 1
    w_s, _, _ = V._frame_window(1024, 1024, 0, 1, 1)
    w_l, ls, _ = V._frame_window(2048, 1024, 1, 0, 1)
    assert ls == 256
    right = w_s[512:]
    left = w_l[256:768]
    # aligned positions: short right-slope sample i overlaps long
    # left-slope sample i in absolute time (centers 768 apart)
    assert np.allclose(right ** 2 + left ** 2, 1.0, atol=1e-12)
    # zero outside the lapped region (before left_start)
    assert np.all(w_l[:256] == 0.0)


# ── encoder → decoder goldens ───────────────────────────────────────────────


def test_roundtrip_sine_golden():
    rate, amp = 44100, 0.6
    pcm = _sine(rate=rate, amp=amp)
    pk, gran = _packets_of(V.encode_vorbis(pcm, rate))
    out, r, ch = V.decode_vorbis_stream(pk, gran)
    assert (r, ch) == (rate, 1)
    x = out[:, 0]
    assert len(x) == len(pcm)
    assert np.abs(x - pcm).max() < 5e-3
    assert np.sqrt((x ** 2).mean()) == pytest.approx(amp / np.sqrt(2), rel=5e-3)
    assert np.abs(x).max() == pytest.approx(amp, rel=5e-3)


def test_roundtrip_smooth_noise():
    rng = np.random.default_rng(13)
    raw = rng.standard_normal(9000)
    k = np.hanning(65)
    pcm = np.convolve(raw, k / k.sum(), mode="same")
    pcm /= np.abs(pcm).max() * 1.3
    pk, gran = _packets_of(V.encode_vorbis(pcm, 32000))
    x = V.decode_vorbis_stream(pk, gran)[0][:, 0]
    assert len(x) == len(pcm)
    err = np.sqrt(((x - pcm) ** 2).mean())
    assert err < 1e-3 * np.abs(pcm).max()


def test_roundtrip_mixed_block_plan():
    pcm = _sine(seconds=0.25)
    plan = [0, 0, 1, 1, 0, 1, 0, 0, 1, 1, 1, 0, 0, 0, 1, 0, 1, 1, 0, 0]
    bs = (1024, 2048)

    def cov(p):
        return sum(bs[p[f - 1]] // 4 + bs[p[f]] // 4 for f in range(1, len(p)))

    while cov(plan) < len(pcm):
        plan.append(0)
    pk, gran = _packets_of(V.encode_vorbis(pcm, 44100, block_plan=plan))
    x = V.decode_vorbis_stream(pk, gran)[0][:, 0]
    assert len(x) == len(pcm)
    # window-transition lapping must stay reconstruction-exact up to
    # quantization (slightly looser: long blocks quantize 2x the span)
    assert np.abs(x - pcm).max() < 1e-2
    assert np.sqrt(((x - pcm) ** 2).mean()) < 1e-3


def test_silent_frames_and_do_not_decode_path():
    pcm = _sine(seconds=0.3)
    pcm[4000:9000] = 0.0
    ogg = V.encode_vorbis(pcm, 44100)
    pk, gran = _packets_of(ogg)
    # floor-unused packets are 1-2 bytes (audio+mode+floor bits only)
    assert any(len(p) <= 2 for p in pk[3:])
    x = V.decode_vorbis_stream(pk, gran)[0][:, 0]
    assert np.abs(x - pcm).max() < 5e-3
    # the zeroed interior decodes to EXACT digital silence away from the
    # lapped frame edges
    assert np.abs(x[5200:7800]).max() == 0.0


def test_eop_during_residue_is_legal_not_an_error():
    pcm = _sine()
    pk, gran = _packets_of(V.encode_vorbis(pcm, 44100))
    pk = list(pk)
    pk[10] = pk[10][:8]  # header+floor survive; residue hits EOP
    x = V.decode_vorbis_stream(pk, gran)[0][:, 0]
    assert len(x) == len(pcm)


def test_truncated_floor_is_an_error():
    pcm = _sine()
    pk, gran = _packets_of(V.encode_vorbis(pcm, 44100))
    pk = list(pk)
    pk[5] = pk[5][:1]  # inside the floor posts
    with pytest.raises(ValueError):
        V.decode_vorbis_stream(pk, gran)


def test_granule_trims_tail_exactly():
    pcm = _sine(seconds=0.2113)  # deliberately not a multiple of 512
    pk, gran = _packets_of(V.encode_vorbis(pcm, 44100))
    assert gran == len(pcm)
    x = V.decode_vorbis_stream(pk, gran)[0][:, 0]
    assert len(x) == len(pcm)


# ── hostile-input fuzz ──────────────────────────────────────────────────────


def test_fuzz_packet_mutations_decode_or_valueerror():
    pcm = _sine(seconds=0.1)
    pk, gran = _packets_of(V.encode_vorbis(pcm, 44100))
    rng = np.random.default_rng(99)
    for trial in range(200):
        mutated = [bytearray(p) for p in pk]
        which = int(rng.integers(0, len(mutated)))
        if len(mutated[which]) == 0:
            continue
        op = trial % 3
        if op == 0:  # flip a byte
            i = int(rng.integers(0, len(mutated[which])))
            mutated[which][i] ^= int(rng.integers(1, 256))
        elif op == 1:  # truncate
            mutated[which] = mutated[which][:int(rng.integers(0, len(mutated[which])))]
        else:  # duplicate-extend with junk
            mutated[which] += bytes(rng.integers(0, 256, 8, dtype=np.uint8))
        try:
            V.decode_vorbis_stream([bytes(p) for p in mutated], gran)
        except ValueError:
            pass  # the only legal failure mode


def test_fuzz_random_setup_headers_never_crash():
    rng = np.random.default_rng(123)
    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([1])
             + struct.pack("<I", 44100) + struct.pack("<iii", 0, 0, 0)
             + bytes([(11 << 4) | 10]) + bytes([1]))
    comment = b"\x03vorbis" + struct.pack("<I", 0) + struct.pack("<I", 0) + b"\x01"
    for _ in range(300):
        setup = b"\x05vorbis" + bytes(
            rng.integers(0, 256, int(rng.integers(1, 120)), dtype=np.uint8))
        try:
            V.decode_vorbis_stream([ident, comment, setup, b"\x00"], None)
        except ValueError:
            pass


# ── container integration (media_codecs/multimodal) ───────────────────────────


def test_parse_ogg_emits_real_vorbis_sample_stats():
    from media_codecs.multimodal import (
        _parse_ogg,
    )

    rate, amp = 48000, 0.45
    pcm = _sine(rate=rate, amp=amp, seconds=0.25)
    meta = _parse_ogg(V.encode_vorbis(pcm, rate))
    assert meta["sample_rate"] == rate
    assert meta["channels"] == 1
    assert meta["n_samples"] == len(pcm)
    assert meta["rms"] == pytest.approx(amp / np.sqrt(2), rel=5e-3)
    assert meta["peak"] == pytest.approx(amp, rel=5e-3)


# ── encoder variants: full decoder-path coverage ───────────────────────────


def test_forward_inverse_couple_roundtrip():
    rng = np.random.default_rng(3)
    x = rng.uniform(-5, 5, 20000)
    y = rng.uniform(-5, 5, 20000)
    m, a = V.forward_couple(x, y)
    xx, yy = V.inverse_couple(m, a)
    scale = np.abs(x) + np.abs(y) + 1e-30
    assert np.abs(xx - x).max() == 0.0 or np.max(np.abs(xx - x) / scale) < 1e-15
    assert np.max(np.abs(yy - y) / scale) < 1e-15
    # integer lattices round-trip bit-exactly (no re-association error)
    xi = rng.integers(-50, 50, 5000).astype(np.float64)
    yi = rng.integers(-50, 50, 5000).astype(np.float64)
    mi, ai = V.forward_couple(xi, yi)
    xxi, yyi = V.inverse_couple(mi, ai)
    assert np.array_equal(xxi, xi) and np.array_equal(yyi, yi)


@pytest.mark.parametrize("kw", [
    {"residue_type": 0},
    {"residue_type": 1},
    {"value_dim": 2},
    {"lookup_type": 2},
    {"residue_type": 0, "value_dim": 2},
    {"residue_type": 1, "value_dim": 2, "lookup_type": 2},
])
def test_roundtrip_stream_variants(kw):
    """Every spec residue layout (0 interleaved / 1 sequential / 2
    channel-interleaved), VQ dimension grouping and both lookup-table
    forms decode to the same signal."""
    pcm = _sine(seconds=0.2)
    pk, gran = _packets_of(V.encode_vorbis(pcm, 44100, **kw))
    x = V.decode_vorbis_stream(pk, gran)[0][:, 0]
    assert len(x) == len(pcm)
    assert np.abs(x - pcm).max() < 5e-3


def test_roundtrip_coupled_stereo():
    rate = 44100
    t = np.arange(int(0.2 * rate))
    left = 0.6 * np.sin(2 * np.pi * 440 * t / rate)
    right = 0.3 * np.sin(2 * np.pi * 660 * t / rate + 0.8)
    st = np.stack([left, right], axis=1)
    pk, gran = _packets_of(V.encode_vorbis(st, rate))
    out, r, ch = V.decode_vorbis_stream(pk, gran)
    assert (r, ch) == (rate, 2)
    assert out.shape == st.shape
    assert np.abs(out[:, 0] - left).max() < 5e-3
    assert np.abs(out[:, 1] - right).max() < 5e-3
    # per-channel rms against the analytic values
    assert np.sqrt((out[:, 0] ** 2).mean()) == pytest.approx(
        0.6 / np.sqrt(2), rel=5e-3)
    assert np.sqrt((out[:, 1] ** 2).mean()) == pytest.approx(
        0.3 / np.sqrt(2), rel=5e-3)


def test_parse_ogg_stereo_stats():
    from media_codecs.multimodal import (
        _parse_ogg,
    )

    rate = 48000
    t = np.arange(int(0.15 * rate))
    st = np.stack([0.5 * np.sin(2 * np.pi * 500 * t / rate),
                   0.2 * np.sin(2 * np.pi * 750 * t / rate)], axis=1)
    meta = _parse_ogg(V.encode_vorbis(st, rate))
    assert meta["channels"] == 2
    assert meta["n_samples"] == len(t)
    assert meta["rms"] == pytest.approx(float(np.sqrt((st ** 2).mean())),
                                        rel=5e-3)
