"""WebP lossless (media_codecs/vp8l.py) — distance-map derivation pinned to
the spec's listed prefix, encoder-decoder round trips, and hand-crafted
bitstreams exercising every decoder path our subset encoder does not emit:
all four transforms, the color cache, and LZ77 backward references."""

from __future__ import annotations

import numpy as np
import pytest

from media_codecs import vp8l as V
from media_codecs.webimage import decode_webp

# first 60 entries as listed in the published VP8L specification §4.2.2
_SPEC_PREFIX = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1),
]


def test_distance_map_matches_spec_prefix():
    assert len(V.DISTANCE_MAP) == 120
    assert V.DISTANCE_MAP[:60] == _SPEC_PREFIX


def test_roundtrip_including_container():
    rng = np.random.default_rng(5)
    for shape in [(1, 1, 4), (3, 17, 4), (40, 31, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (V.decode_vp8l(V.encode_vp8l(img)) == img).all()
        assert (decode_webp(V.encode_webp_lossless(img)) == img).all()
    rgb = rng.integers(0, 256, (9, 9, 3), dtype=np.uint8)
    out = decode_webp(V.encode_webp_lossless(rgb))
    assert (out[..., :3] == rgb).all() and (out[..., 3] == 255).all()


def _header(w: int, h: int) -> V._Writer:
    wr = V._Writer()
    wr.write(0x2F, 8)
    wr.write(w - 1, 14)
    wr.write(h - 1, 14)
    wr.write(1, 1)
    wr.write(0, 3)
    return wr


def _single_tree(wr: V._Writer, sym: int) -> None:
    """Simple prefix code with one symbol (decodes with zero bits)."""
    wr.write(1, 1)  # simple
    wr.write(0, 1)  # one symbol
    if sym < 2:
        wr.write(0, 1)
        wr.write(sym, 1)
    else:
        wr.write(1, 1)
        wr.write(sym, 8)


def _pair_tree(wr: V._Writer, s0: int, s1: int):
    """Simple 2-symbol code → emit s0 as bit 0, s1 as bit 1."""
    wr.write(1, 1)
    wr.write(1, 1)  # two symbols
    if s0 < 2:
        wr.write(0, 1)
        wr.write(s0, 1)
    else:
        wr.write(1, 1)
        wr.write(s0, 8)
    wr.write(s1, 8)


def _plain_trees(wr, g, r, b, a):
    """Single-symbol trees for all five codes (constant pixel stream)."""
    _single_tree(wr, g)
    _single_tree(wr, r)
    _single_tree(wr, b)
    _single_tree(wr, a)
    _single_tree(wr, 0)  # distance, unused


def test_handmade_subtract_green():
    # constant stored pixel (a=200, r'=70, g=30, b'=10); inverse transform
    # must add green back: r = 100, b = 40
    wr = _header(3, 2)
    wr.write(1, 1)  # a transform
    wr.write(2, 2)  # subtract green
    wr.write(0, 1)  # no more transforms
    wr.write(0, 1)  # no cache
    wr.write(0, 1)  # no meta
    _plain_trees(wr, 30, 70, 10, 200)
    out = V.decode_vp8l(bytes(wr.buf))
    assert out.shape == (2, 3, 4)
    assert (out == np.array([100, 30, 40, 200], dtype=np.uint8)).all()


def test_handmade_predictor_modes():
    # 4x2, one block (size_bits 3 → 8x8 block), mode 1 (left): residuals are
    # (10,20,30,1) for the first pixel (pred 0xff000000 → alpha 255+1=0... use
    # alpha residual 0 so alpha = 255) and zero for the rest → constant image
    wr = _header(4, 2)
    wr.write(1, 1)
    wr.write(0, 2)  # predictor
    wr.write(1, 3)  # size_bits = 1 + 2 = 3
    # predictor sub-image 1x1: mode in green channel = 1
    wr.write(0, 1)  # no cache (sub-image)
    _plain_trees(wr, 1, 0, 0, 0)
    wr.write(0, 1)  # end transforms
    wr.write(0, 1)  # no cache (main)
    wr.write(0, 1)  # no meta
    # greens: first pixel residual g=20, others 0 → pair tree. Canonical
    # 2-symbol codes assign bit 0 to the SMALLER symbol.
    _pair_tree(wr, 20, 0)
    _pair_tree(wr, 10, 0)  # red
    _pair_tree(wr, 30, 0)  # blue
    _single_tree(wr, 0)  # alpha residual always 0
    _single_tree(wr, 0)
    # 8 pixels: first emits (g=20, r=10, b=30) → bit 1 each; rest emit the
    # zero symbol (bit 0)
    wr.write(1, 1); wr.write(1, 1); wr.write(1, 1)
    for _ in range(7):
        wr.write(0, 1)  # g = 0
        wr.write(0, 1)  # r = 0
        wr.write(0, 1)  # b = 0
    out = V.decode_vp8l(bytes(wr.buf))
    assert out.shape == (2, 4, 4)
    assert (out == np.array([10, 20, 30, 255], dtype=np.uint8)).all()


def test_handmade_palette_with_bundling():
    # 4-colour palette, width 8 → width_bits 2 → packed width 2; each packed
    # green byte holds 4 two-bit indices (LSB-first)
    wr = _header(8, 1)
    wr.write(1, 1)
    wr.write(3, 2)  # color indexing
    wr.write(3, 8)  # 4 colours
    # palette image 4x1, delta-coded: first entry (a=255, r=10, g=20, b=30),
    # then three identical deltas (+10 on r/g/b) → palette
    # (10,20,30), (20,30,40), (30,40,50), (40,50,60), all alpha 255
    wr.write(0, 1)  # no cache
    _pair_tree(wr, 20, 10)  # green values {20, then 10,10,10}
    _single_tree(wr, 10)    # red always 10
    _pair_tree(wr, 30, 10)  # blue {30, 10,10,10}
    _pair_tree(wr, 255, 0)  # alpha {255, 0,0,0}
    _single_tree(wr, 0)
    # canonical 2-symbol code: the smaller SYMBOL gets bit 0

    def emit(tree_syms, value):
        wr.write(0 if value == min(tree_syms) else 1, 1)

    pal_rows = [(20, 30, 255), (10, 10, 0), (10, 10, 0), (10, 10, 0)]
    for g, b, a in pal_rows:
        emit((20, 10), g)
        emit((30, 10), b)
        emit((255, 0), a)
    wr.write(0, 1)  # end transforms
    wr.write(0, 1)  # no cache
    wr.write(0, 1)  # no meta
    # packed image 2x1: indices [0,1,2,3] → byte0 = 0|1<<2|2<<4|3<<6 = 0xE4;
    # indices [3,2,1,0] → byte1 = 3|2<<2|1<<4|0<<6 = 0x1B
    _pair_tree(wr, 0xE4, 0x1B)
    _single_tree(wr, 0)  # red
    _single_tree(wr, 0)  # blue
    _single_tree(wr, 255)  # alpha
    _single_tree(wr, 0)
    emit((0xE4, 0x1B), 0xE4)
    emit((0xE4, 0x1B), 0x1B)
    out = V.decode_vp8l(bytes(wr.buf))
    assert out.shape == (1, 8, 4)
    pal = [(10, 20, 30, 255), (20, 30, 40, 255), (30, 40, 50, 255), (40, 50, 60, 255)]
    expect = [pal[i] for i in (0, 1, 2, 3, 3, 2, 1, 0)]
    assert out[0].tolist() == [list(p) for p in expect]


def test_handmade_color_cache_and_lz77():
    # 1x6: literal P, LZ77 copy length 3 distance 1, literal Q, cache hit P
    # needs a NORMAL green tree (symbols ≥ 256 can't appear in simple codes)
    cache_bits = 4
    wr = _header(6, 1)
    wr.write(0, 1)  # no transforms
    wr.write(1, 1)  # cache
    wr.write(cache_bits, 4)
    wr.write(0, 1)  # no meta
    g_p, g_q = 33, 77
    pix_p = (255 << 24) | (5 << 16) | (g_p << 8) | 9
    pix_q = (255 << 24) | (5 << 16) | (g_q << 8) | 9
    idx_p = (0x1E35A7BD * pix_p & 0xFFFFFFFF) >> (32 - cache_bits)
    len_sym = 256 + 2  # prefix code 2 → length 3, no extra bits
    cache_sym = 280 + idx_p
    g_lengths = [0] * (256 + 24 + (1 << cache_bits))
    for s in (g_p, g_q, len_sym, cache_sym):
        g_lengths[s] = 2
    g_codes, _ = V.write_prefix_code(wr, g_lengths)
    _single_tree(wr, 5)  # red
    _single_tree(wr, 9)  # blue
    _single_tree(wr, 255)  # alpha
    _pair_tree(wr, 1, 0)  # distance: symbol 1 → dist_code 2 → map (1,0)
    V.emit_symbol(wr, g_codes, g_lengths, g_p)  # literal P
    V.emit_symbol(wr, g_codes, g_lengths, len_sym)  # copy 3 @ dist 1
    wr.write(1, 1)  # distance symbol 1 (canonical: 0→bit0, 1→bit1)
    V.emit_symbol(wr, g_codes, g_lengths, g_q)  # literal Q
    V.emit_symbol(wr, g_codes, g_lengths, cache_sym)  # cache hit → P
    out = V.decode_vp8l(bytes(wr.buf))
    g = out[0, :, 1].tolist()
    assert g == [g_p, g_p, g_p, g_p, g_q, g_p]
    assert (out[0, :, 0] == 5).all() and (out[0, :, 2] == 9).all()


def test_handmade_color_transform():
    # 2x1, one block; cte: green_to_red=16 (blue ch), green_to_blue=0,
    # red_to_blue=0 → r = r' + (16 * int8(g)) >> 5
    wr = _header(2, 1)
    wr.write(1, 1)
    wr.write(1, 2)  # color transform
    wr.write(1, 3)  # size_bits 3
    wr.write(0, 1)  # no cache (sub)
    _plain_trees(wr, 0, 0, 16, 255)  # cte pixel: blue=16 → green_to_red=16
    wr.write(0, 1)  # end transforms
    wr.write(0, 1)
    wr.write(0, 1)
    _plain_trees(wr, 64, 100, 50, 255)  # stored g=64, r'=100, b'=50
    out = V.decode_vp8l(bytes(wr.buf))
    # delta = (16 * 64) >> 5 = 32 → r = 132; blue unchanged
    assert out[0, 0].tolist() == [132, 64, 50, 255]
    assert out[0, 1].tolist() == [132, 64, 50, 255]


def test_corrupt_inputs_raise_cleanly():
    img = np.zeros((4, 4, 4), dtype=np.uint8)
    enc = bytearray(V.encode_vp8l(img))
    with pytest.raises(ValueError):
        V.decode_vp8l(b"\x00" + bytes(enc[1:]))
    with pytest.raises(ValueError):
        V.decode_vp8l(bytes(enc[:10]))
    rng = np.random.default_rng(11)
    for _ in range(300):
        b = bytearray(enc)
        for _ in range(rng.integers(1, 5)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            V.decode_vp8l(bytes(b))
        except (ValueError, IndexError):
            pass


def test_image_metadata_decodes_vp8l(spark):
    from media_codecs.multimodal import (
        image_metadata,
    )

    from tests.test_vp8 import GOLDEN_WEBP

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (24, 18, 4), dtype=np.uint8)
    good = V.encode_webp_lossless(img)
    df = spark.createDataFrame(
        [("l", bytearray(good)), ("y", bytearray(GOLDEN_WEBP))],
        "asset_id string, payload binary",
    )
    rows = {r.asset_id: r for r in image_metadata(df).collect()}
    assert rows["l"].decode_error is None
    assert rows["l"].width == 18 and rows["l"].height == 24 and rows["l"].channels == 4
    # same precision/expression as every other format's generic path
    assert rows["l"].mean_luma == round(float(img.mean()), 4)
    # lossy VP8 rows now decode for real too (round-5: media_codecs/vp8.py)
    assert rows["y"].decode_error is None
    assert rows["y"].width == 56 and rows["y"].height == 40
    assert rows["y"].mean_luma is not None and rows["y"].phash is not None
