"""H.264 baseline intra decoder/encoder tests — media_codecs/h264.py.

Validation tiers (no H.264 codec binary exists in this container to
differential against — the tier model mirrors media_codecs/mp3.py):

1. Table structure: every CAVLC VLC table prefix-free + exactly
   Kraft-complete (with the spec's all-zeros holes pinned), plus golden
   codewords from the published worked examples (Richardson, "H.264 and
   MPEG-4 Video Compression", CAVLC example: coeff_token(nC<2, TC=5,
   T1s=3) = 0000100, total_zeros(TC=5, tz=3) = 111, run_before(zl=3,
   run=1) = 10).
2. Transform algebra: the unnormalized Hadamard pair composes to 16·X
   exactly; forward-DCT→quant→dequant→IDCT error at QP 0 is sub-LSB;
   recon error scales with the analytic quantization step.
3. I_PCM anchor: raw-sample macroblocks through the full NAL/slice/MB
   parse path decode BIT-exactly to the source — decoder-independent.
4. Encoder/decoder agreement: bit-exact reconstruction across the full
   option matrix (QP sweep, PCM interleave, per-MB QP jitter, multi-slice,
   chroma QP offsets, deblock on/off + offsets, cropped dimensions,
   noise/gradient/flat content), both Annex-B and avcC sample paths, with
   loud desync (rbsp_trailing_bits verified).
5. Hostility: corruption/truncation fuzz decodes-or-ValueErrors, never
   crashes; CABAC / P-slices / scaling matrices / oversized frames are
   rejected with named errors.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from media_codecs import h264 as H
from media_codecs import h264_tables as T


def _mk(h, w, kind, seed=3):
    rng = np.random.default_rng(seed)
    if kind == "noise":
        y = rng.integers(0, 256, (h, w)).astype(np.uint8)
    elif kind == "grad":
        y = (np.add.outer(np.arange(h), np.arange(w)) % 256).astype(np.uint8)
    else:
        y = np.full((h, w), 77, np.uint8)
    u = (y[::2, ::2] // 2 + 30).astype(np.uint8)
    v = (255 - y[::2, ::2]).astype(np.uint8)
    return y, u, v


# ── tier 1: tables ─────────────────────────────────────────────────────────


def test_all_tables_validated():
    assert not T.UNVALIDATED, f"unvalidated H.264 tables: {T.UNVALIDATED}"
    assert len(T.VALIDATED) == 29  # 4 coeff_token + 15+3 total_zeros + 7 run_before


def test_published_worked_example_codewords():
    # Richardson's CAVLC worked example (public literature)
    assert T.COEFF_TOKEN[0][(3, 5)] == "0000100"
    assert T.TOTAL_ZEROS[5][3] == "111"
    assert T.RUN_BEFORE[3][1] == "10"
    # famous small entries
    assert T.COEFF_TOKEN[0][(0, 0)] == "1"
    assert T.COEFF_TOKEN[0][(1, 1)] == "01"
    assert T.COEFF_TOKEN[-1][(1, 1)] == "1"
    assert T.COEFF_TOKEN[-1][(3, 4)] == "0000000"
    assert T.TOTAL_ZEROS[15] == {0: "0", 1: "1"}


def test_cavlc_residual_write_read_roundtrip():
    rng = np.random.default_rng(11)
    for max_coeff, nC in ((16, 0), (16, 3), (15, 5), (16, 9), (4, -1), (15, 1)):
        for density in (0.1, 0.4, 0.9):
            for _ in range(40):
                coeffs = [
                    int(rng.integers(-2000, 2000)) if rng.random() < density else 0
                    for _ in range(max_coeff)
                ]
                bw = H._BitWriter()
                tc = H._write_residual(bw, coeffs, max_coeff, nC)
                bw.rbsp_trailing()
                br = H._BitReader(bw.tobytes())
                out, tc2 = H._decode_residual(br, nC, max_coeff)
                assert out == coeffs and tc2 == tc


# ── tier 2: transform algebra ──────────────────────────────────────────────


def test_hadamard_pair_is_16x():
    rng = np.random.default_rng(5)
    X = rng.integers(-500, 500, (4, 4))
    HD = H._HAD4 @ X @ H._HAD4.T
    back = np.array(H._ihadamard4x4([[int(v) for v in row] for row in HD]))
    assert np.array_equal(back, 16 * X)


def test_qp0_transform_chain_sub_lsb():
    rng = np.random.default_rng(6)
    for _ in range(50):
        res = rng.integers(-200, 200, (4, 4))
        W = H._fdct4x4(res)
        coeffs = H._quant_block_zigzag(W, 0, 0)
        out = H._idct4x4_add(coeffs, 0, None, np.zeros((4, 4), np.int32), clip=False)
        assert np.abs(out - res).max() <= 1


def test_recon_error_scales_with_qstep():
    """Decoded-vs-source error is bounded by the analytic quant step
    (Qstep = 0.625 * 2^(qp/6)); a dequant scaling bug breaks this."""
    y, u, v = _mk(32, 32, "noise", seed=8)
    prev = None
    for qp in (0, 12, 24, 36, 48):
        annexb, (ry, _, _) = H.encode_h264(y, u, v, qp=qp, deblock=False)
        err = float(np.abs(ry.astype(int) - y.astype(int)).mean())
        qstep = 0.625 * 2 ** (qp / 6)
        assert err <= max(1.0, 1.5 * qstep), (qp, err, qstep)
        if prev is not None:
            assert err >= prev * 0.5 - 1.0  # roughly monotone in qp
        prev = err


# ── tier 3: I_PCM anchor ───────────────────────────────────────────────────


def test_ipcm_bit_exact_anchor():
    for (h, w) in ((16, 16), (32, 48), (20, 14)):
        y, u, v = _mk(h, w, "noise", seed=h * 100 + w)
        annexb, _ = H.encode_h264(y, u, v, qp=30, pcm_every=1)
        dy, du, dv = H.decode_h264_annexb(annexb)
        assert np.array_equal(dy, y) and np.array_equal(du, u) and np.array_equal(dv, v)


# ── tier 4: encoder/decoder agreement ──────────────────────────────────────

_CASES = [
    dict(qp=0),
    dict(qp=51),
    dict(qp=26, pcm_every=3),
    dict(qp=30, qp_jitter=4),
    dict(qp=24, n_slices=3),
    dict(qp=35, chroma_qp_off=-9),
    dict(qp=18, alpha_off2=3, beta_off2=-2),
    dict(qp=28, deblock=False),
    dict(qp=28, pcm_every=2, qp_jitter=6, n_slices=2, chroma_qp_off=4),
]


@pytest.mark.parametrize("dims", [(48, 64), (20, 14), (34, 50)])
def test_roundtrip_matrix_bit_exact(dims):
    h, w = dims
    for kind in ("noise", "grad", "flat"):
        for i, kw in enumerate(_CASES):
            y, u, v = _mk(h, w, kind, seed=i)
            annexb, (ry, ru, rv) = H.encode_h264(y, u, v, seed=i, **kw)
            dy, du, dv = H.decode_h264_annexb(annexb)
            assert dy.shape == (h, w)
            assert np.array_equal(dy, ry), (dims, kind, kw)
            assert np.array_equal(du, ru) and np.array_equal(dv, rv), (dims, kind, kw)


def test_avcc_sample_path():
    frames = [_mk(32, 48, k, seed=i) for i, k in enumerate(("noise", "grad", "flat"))]
    out = H.encode_h264_frames(frames, qp=30, n_slices=2)
    sps, pps = out["sps"], out["pps"]
    avcc = (
        bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps
    )
    cfg = H.parse_avcc(avcc)
    assert cfg["len_size"] == 4
    for i, nals in enumerate(out["samples"]):
        sample = b"".join(struct.pack(">I", len(n)) + n for n in nals)
        dy, du, dv = H.decode_h264_sample(sample, cfg)
        ry, ru, rv = out["recons"][i]
        assert np.array_equal(dy, ry) and np.array_equal(du, ru) and np.array_equal(dv, rv)


def test_deblock_filter_is_load_bearing():
    y, u, v = _mk(48, 48, "noise", seed=2)
    _, (r_on, _, _) = H.encode_h264(y, u, v, qp=45, deblock=True)
    _, (r_off, _, _) = H.encode_h264(y, u, v, qp=45, deblock=False)
    assert not np.array_equal(r_on, r_off)


def test_emulation_prevention_roundtrip():
    rng = np.random.default_rng(13)
    for _ in range(200):
        raw = bytes(rng.integers(0, 4, rng.integers(1, 60)).astype(np.uint8))
        ebsp = H._add_emulation(raw)
        assert b"\x00\x00\x00" not in ebsp and b"\x00\x00\x01" not in ebsp
        assert b"\x00\x00\x02" not in ebsp
        assert H._strip_emulation(ebsp) == raw


# ── tier 5: hostility ──────────────────────────────────────────────────────


def _small_stream():
    y, u, v = _mk(16, 16, "grad", seed=1)
    annexb, _ = H.encode_h264(y, u, v, qp=30)
    return annexb


def test_cabac_pps_parses_but_unmarked_stream_refused():
    # round 7: a CABAC PPS parses (I-slice CABAC is implemented), but a
    # stream without the in-repo SEI provenance marker must refuse with a
    # named error instead of decoding wrongly under non-spec context inits
    bw = H._BitWriter()
    bw.ue(0)  # pps_id
    bw.ue(0)  # sps_id
    bw.write(1, 1)  # entropy_coding_mode = CABAC
    bw.write(0, 1)
    bw.ue(0)
    bw.ue(0)
    bw.ue(0)
    bw.write(0, 1)
    bw.write(0, 2)
    bw.se(0)
    bw.se(0)
    bw.se(0)
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.rbsp_trailing()
    pps = H._parse_pps(bw.tobytes())
    assert pps["cabac"] == 1


def test_oversized_frame_rejected():
    bw = H._BitWriter()
    bw.write(66, 8)
    bw.write(0, 8)
    bw.write(30, 8)
    bw.ue(0)
    bw.ue(0)
    bw.ue(2)
    bw.ue(0)
    bw.write(0, 1)
    bw.ue(499)  # 500 MBs wide
    bw.ue(399)  # 400 MBs tall → 8000x6400 > budget
    bw.write(1, 1)
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.rbsp_trailing()
    with pytest.raises(ValueError, match="budget"):
        H._parse_sps(bw.tobytes())


def test_truncation_detected():
    annexb = _small_stream()
    for cut in (len(annexb) - 1, len(annexb) - 5, len(annexb) // 2):
        with pytest.raises(ValueError):
            H.decode_h264_annexb(annexb[:cut])


def test_mutation_fuzz_never_crashes():
    annexb = bytearray(_small_stream())
    rng = np.random.default_rng(17)
    decoded = errored = 0
    for _ in range(300):
        data = bytearray(annexb)
        for _ in range(rng.integers(1, 4)):
            data[rng.integers(0, len(data))] ^= 1 << rng.integers(0, 8)
        try:
            y, _, _ = H.decode_h264_annexb(bytes(data))
            assert y.dtype == np.uint8
            decoded += 1
        except ValueError:
            errored += 1
    assert decoded + errored == 300
    assert errored > 0  # mutations do get caught


def test_random_garbage_rejected():
    rng = np.random.default_rng(19)
    for _ in range(100):
        blob = bytes(rng.integers(0, 256, rng.integers(4, 120)).astype(np.uint8))
        with pytest.raises(ValueError):
            H.decode_h264_annexb(b"\x00\x00\x01" + blob)


# ── end-to-end: synth avc1 MP4 assets through the Spark operator ───────────


def test_video_frame_sample_avc1_matches_oracle(spark, tmp_path):
    """Full differential: synth videos.parquet (in-repo encoder + MP4 mux)
    → video_frame_sample (demux + from-scratch H.264 decode) must equal
    the oracle's expected rows (encoder recon + independent scalar
    kernels) — the same check the driver's q_video_frames gate runs."""
    import pyarrow.parquet as pq

    from media_codecs.multimodal import (
        video_frame_sample,
    )
    from media_codecs.oracle import (
        compute_video_frames,
    )
    from media_codecs import synth_media as synth

    synth.write_videos(tmp_path)
    compute_video_frames(tmp_path)
    vids = spark.read.parquet(str(tmp_path / "videos.parquet"))
    got = {
        (r.asset_id, r.frame_index, r.ts_ms): (r.frame_phash, r.decode_error)
        for r in video_frame_sample(vids, every_ms=synth.VIDEO_EVERY_MS).collect()
    }
    exp = pq.read_table(tmp_path / "video_frames.parquet").to_pylist()
    assert len(got) == len(exp)
    for row in exp:
        key = (row["asset_id"], row["frame_index"], row["ts_ms"])
        assert key in got, key
        phash, err = got[key]
        if row["quarantined"]:
            assert err is not None and phash is None
        else:
            assert err is None and phash == row["frame_phash"], key


def test_mkv_avc1_codecprivate_decode():
    """Matroska V_MPEG4/ISO/AVC: CodecPrivate carries the avcC record and
    SimpleBlock payloads are length-prefixed NALs — the demux must hand
    both to the H.264 decoder and reproduce the encoder recon exactly."""
    from tests.test_new_ops import _mkv_bytes

    from media_codecs.vp8 import yuv_to_rgb
    from media_codecs.multimodal import (
        _parse_mkv,
        _phash,
    )

    frames = [_mk(32, 48, k, seed=40 + i) for i, k in enumerate(("noise", "grad"))]
    out = H.encode_h264_frames(frames, qp=26)
    sps, pps = out["sps"], out["pps"]
    avcc = (
        bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps
    )
    payloads = [
        b"".join(struct.pack(">I", len(n)) + n for n in nals)
        for nals in out["samples"]
    ]
    mkv = _mkv_bytes(payloads, codec=b"V_MPEG4/ISO/AVC", codec_private=avcc)
    info = _parse_mkv(mkv)
    assert info["codec"] == "V_MPEG4/ISO/AVC" and info["avcc"] == avcc
    cfg = H.parse_avcc(info["avcc"])
    for i, (_ts, blob) in enumerate(info["samples"]):
        yp, up, vp = H.decode_h264_sample(blob, cfg)
        ry, ru, rv = out["recons"][i]
        assert np.array_equal(yp, ry) and np.array_equal(up, ru) and np.array_equal(vp, rv)
        assert isinstance(_phash(yuv_to_rgb(yp, up, vp)), int)


# ── P slices: IPP GOPs through the sliding-window DPB ──────────────────────


def _mk_gop(n, h, w, kind, seed=5):
    rng = np.random.default_rng(seed)
    if kind == "pan":
        base = rng.integers(0, 256, (h + 32, w + 32)).astype(np.uint8)
        mk = lambda f: base[f * 3 % 16 : f * 3 % 16 + h, f * 5 % 16 : f * 5 % 16 + w].copy()
    elif kind == "static":
        one = rng.integers(0, 256, (h, w)).astype(np.uint8)
        mk = lambda f: one.copy()
    else:
        yy, xx = np.mgrid[0:h, 0:w]
        mk = lambda f: ((xx * 3 + yy * 2 + f * 31) % 256).astype(np.uint8)
    out = []
    for f in range(n):
        y = mk(f)
        out.append((y, (y[::2, ::2] // 2 + 20).astype(np.uint8),
                    (255 - y[::2, ::2]).astype(np.uint8)))
    return out


_GOP_CASES = [
    dict(qp=28, gop="ipp"),
    dict(qp=30, gop="ipp", n_slices=2),
    dict(qp=26, gop="ipp", pcm_every=5),
    dict(qp=35, gop="ipp", deblock=False),
    dict(qp=22, gop="ipp", idr_every=3),
    dict(qp=40, gop="ipp", chroma_qp_off=5),
]


@pytest.mark.parametrize("dims", [(48, 64), (20, 14), (34, 50)])
def test_ipp_gop_roundtrip_bit_exact(dims):
    """P slices (skip runs, all partition shapes, quarter-pel MVs, up to
    2 reference frames, intra-in-P) decode bit-exactly to the encoder
    reconstruction across content kinds and option matrix."""
    for kind in ("pan", "static", "grad"):
        for ci, kw in enumerate(_GOP_CASES):
            frames = _mk_gop(5, *dims, kind, seed=ci)
            out = H.encode_h264_frames(frames, seed=ci, **kw)
            dec = H.H264StreamDecoder()
            for i, nals in enumerate(out["samples"]):
                feed = ([out["sps"], out["pps"]] + nals) if i == 0 else nals
                got = dec.decode_nals(feed)
                for g, r in zip(got, out["recons"][i]):
                    assert np.array_equal(g, r), (dims, kind, ci, i)


def test_p_frame_chain_breaks_poison_until_idr():
    """A failed P frame must NOT let later P frames silently decode
    against the wrong reference; the chain resumes at the next IDR."""
    frames = _mk_gop(6, 32, 48, "pan")
    out = H.encode_h264_frames(frames, qp=28, gop="ipp", idr_every=3)
    dec = H.H264StreamDecoder()
    dec.decode_nals([out["sps"], out["pps"]] + out["samples"][0])
    corrupt = bytearray(out["samples"][1][0])
    corrupt = bytes(corrupt[: len(corrupt) // 2])  # truncate the P slice
    with pytest.raises(ValueError):
        dec.decode_nals([corrupt])
    with pytest.raises(ValueError, match="chain broken"):
        dec.decode_nals(out["samples"][2])  # P frame: poisoned
    got = dec.decode_nals(out["samples"][3])  # IDR: resets and succeeds
    for g, r in zip(got, out["recons"][3]):
        assert np.array_equal(g, r)
    got = dec.decode_nals(out["samples"][4])  # following P works again
    for g, r in zip(got, out["recons"][4]):
        assert np.array_equal(g, r)


def test_truncated_container_sample_poisons_chain():
    """A container-level truncation (bad avcC length prefix, so the
    failure fires in split_avcc_sample BEFORE decode_nals) must poison
    the reference chain exactly like a failed slice decode — later P
    frames must not silently decode against a stale DPB."""
    frames = _mk_gop(6, 32, 48, "pan")
    out = H.encode_h264_frames(frames, qp=28, gop="ipp", idr_every=3)
    dec = H.H264StreamDecoder()

    def mux(nals):
        return b"".join(len(n).to_bytes(4, "big") + n for n in nals)

    dec.decode_sample(mux([out["sps"], out["pps"]] + out["samples"][0]))
    whole = mux(out["samples"][1])
    with pytest.raises(ValueError, match="avcC sample"):
        dec.decode_sample(whole[:-3])  # truncated mid-NAL: split fails
    assert dec.broken
    with pytest.raises(ValueError, match="chain broken"):
        dec.decode_sample(mux(out["samples"][2]))  # P frame: poisoned
    got = dec.decode_sample(mux(out["samples"][3]))  # IDR: recovers
    for g, r in zip(got, out["recons"][3]):
        assert np.array_equal(g, r)
    got = dec.decode_sample(mux(out["samples"][4]))
    for g, r in zip(got, out["recons"][4]):
        assert np.array_equal(g, r)


def test_p_slice_without_references_rejected():
    frames = _mk_gop(3, 32, 48, "pan")
    out = H.encode_h264_frames(frames, qp=28, gop="ipp")
    dec = H.H264StreamDecoder()
    dec.sps_map, dec.pps_map = {}, {}
    with pytest.raises(ValueError):
        # P frame fed first (no SPS/PPS, no refs)
        dec.decode_nals(out["samples"][1])
    dec2 = H.H264StreamDecoder()
    dec2.decode_nals([out["sps"], out["pps"]] + out["samples"][0])
    dec3 = H.H264StreamDecoder()
    dec3.sps_map, dec3.pps_map = dict(dec2.sps_map), dict(dec2.pps_map)
    with pytest.raises(ValueError, match="reference"):
        dec3.decode_nals(out["samples"][1])  # refs missing → loud error


def test_ipp_compression_uses_skip_runs():
    """Static content → P frames contain skip runs (smaller than IDR)."""
    frames = _mk_gop(4, 48, 64, "static")
    out = H.encode_h264_frames(frames, qp=28, gop="ipp")
    sizes = [sum(len(n) for n in s) for s in out["samples"]]
    assert all(s < sizes[0] for s in sizes[1:])


def test_p_stream_mutation_fuzz_never_crashes():
    """Bit-flip fuzz over an IPP GOP: every mutated GOP either decodes or
    raises ValueError per frame — never crashes, hangs, or asserts. The
    inter parse surface (skip runs, partitions, mvd, te(v) refs, inter
    CBP) is all reachable from these streams."""
    frames = _mk_gop(4, 32, 48, "pan", seed=9)
    out = H.encode_h264_frames(frames, qp=30, gop="ipp")
    aus = [[out["sps"], out["pps"]] + out["samples"][0]] + out["samples"][1:]
    flat = [(i, j) for i, au in enumerate(aus) for j in range(len(au))]
    rng = np.random.default_rng(23)
    decoded = errored = 0
    for _ in range(200):
        mutated = [list(au) for au in aus]
        for _ in range(rng.integers(1, 4)):
            i, j = flat[rng.integers(0, len(flat))]
            nal = bytearray(mutated[i][j])
            nal[rng.integers(0, len(nal))] ^= 1 << rng.integers(0, 8)
            mutated[i][j] = bytes(nal)
        dec = H.H264StreamDecoder()
        for au in mutated:
            try:
                y, _, _ = dec.decode_nals(au)
                assert y.dtype == np.uint8
                decoded += 1
            except ValueError:
                errored += 1
    assert decoded + errored == 800
    assert errored > 0


def test_annexb_stream_decoder_multi_au():
    """decode_h264_annexb_stream: a full elementary stream (SPS/PPS + five
    AUs, IPP with a mid-GOP IDR, then a 2-slice variant) splits into access
    units on first_mb_in_slice == 0 and reproduces the encoder recons
    bit-exactly through the DPB path."""
    for gop, n_slices in [("ipp", 1), ("all-idr", 2)]:
        frames = _mk_gop(5, 32, 48, "pan", seed=41)
        out = H.encode_h264_frames(frames, qp=28, gop=gop, idr_every=3,
                                   n_slices=n_slices)
        sc = b"\x00\x00\x00\x01"
        annexb = sc + out["sps"] + sc + out["pps"] + b"".join(
            sc + n for s in out["samples"] for n in s)
        got = H.decode_h264_annexb_stream(annexb)
        assert len(got) == 5
        for (ay, au, av), (ry, ru, rv) in zip(got, out["recons"]):
            assert np.array_equal(ay, ry)
            assert np.array_equal(au, ru)
            assert np.array_equal(av, rv)
    with pytest.raises(ValueError):
        H.decode_h264_annexb_stream(sc + out["sps"] + sc + out["pps"])
