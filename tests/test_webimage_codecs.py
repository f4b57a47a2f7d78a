"""Pure-codec vectors for the web-image decoders: decode_png_any
(all colour types / bit depths / Adam7) and the GIF LZW codec."""

import struct
import zlib

import numpy as np


def _chunk(tag, data):
    c = tag + data
    return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))


def _make_png(w, h, depth, ctype, raw_rows, interlace=0, plte=None, trns=None):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    return out + _chunk(b"IDAT", zlib.compress(raw_rows)) + _chunk(b"IEND", b"")


def test_png_any_matches_strict_on_rgba():
    from azure_workflow_for_kml_satellite_spark.functions.png import (
        decode_png,
        encode_png_rgba,
    )
    from media_codecs.png_any import decode_png_any

    img = np.random.default_rng(5).integers(0, 256, (23, 31, 4), dtype=np.uint8)
    enc = encode_png_rgba(img)
    a, ca = decode_png_any(enc)
    s, cs = decode_png(enc)
    assert ca == cs == 4 and np.array_equal(a, s) and np.array_equal(a, img)


def test_png_any_gray_palette_lowdepth_16bit():
    from media_codecs.png_any import decode_png_any

    rng = np.random.default_rng(5)
    # grayscale 8-bit
    g = rng.integers(0, 256, (9, 14), dtype=np.uint8)
    rows = b"".join(b"\x00" + g[r].tobytes() for r in range(9))
    a, c = decode_png_any(_make_png(14, 9, 8, 0, rows))
    assert c == 1 and np.array_equal(a[..., 0], g)
    # palette 4-bit + tRNS alpha
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], np.uint8)
    idx = rng.integers(0, 4, (7, 11), dtype=np.uint8)

    def pack4(row):
        padded = row if len(row) % 2 == 0 else np.append(row, 0)
        return bytes(((padded[0::2] << 4) | padded[1::2]).astype(np.uint8))

    rows = b"".join(b"\x00" + pack4(idx[r]) for r in range(7))
    png = _make_png(
        11, 7, 4, 3, rows, plte=pal.tobytes(), trns=bytes([255, 128, 255, 0])
    )
    a, c = decode_png_any(png)
    assert c == 4 and np.array_equal(a[..., :3], pal[idx])
    assert np.array_equal(a[..., 3], np.array([255, 128, 255, 0], np.uint8)[idx])
    # grayscale 1-bit scales to full range
    b1 = rng.integers(0, 2, (5, 19), dtype=np.uint8)
    rows = b"".join(b"\x00" + np.packbits(b1[r]).tobytes() for r in range(5))
    a, c = decode_png_any(_make_png(19, 5, 1, 0, rows))
    assert c == 1 and np.array_equal(a[..., 0], b1 * 255)
    # 16-bit RGB keeps the high byte
    hi = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    lo = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    v16 = (hi.astype(np.uint16) << 8) | lo
    rows = b"".join(b"\x00" + v16[r].astype(">u2").tobytes() for r in range(4))
    a, c = decode_png_any(_make_png(6, 4, 16, 2, rows))
    assert c == 3 and np.array_equal(a, hi)
    # gray+alpha
    ga = rng.integers(0, 256, (6, 5, 2), dtype=np.uint8)
    rows = b"".join(b"\x00" + ga[r].tobytes() for r in range(6))
    a, c = decode_png_any(_make_png(5, 6, 8, 4, rows))
    assert c == 2 and np.array_equal(a, ga)


def test_png_any_adam7_equals_progressive_assembly():
    from media_codecs.png_any import _ADAM7, decode_png_any

    rng = np.random.default_rng(5)
    for h, w in ((21, 17), (8, 8), (1, 1), (3, 9), (16, 2)):
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        passes = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            passes += b"".join(b"\x00" + sub[r].tobytes() for r in range(sub.shape[0]))
        a, c = decode_png_any(_make_png(w, h, 8, 2, passes, interlace=1))
        assert c == 3 and np.array_equal(a, img), (h, w)


def test_png_any_rejects_corrupt():
    from media_codecs.png_any import decode_png_any

    assert decode_png_any(b"\x89PNG\r\n\x1a\n" + b"junk") is None
    assert decode_png_any(_make_png(6, 4, 16, 2, b"short")) is None


def test_gif_lzw_roundtrip_growth_and_clear():
    from media_codecs.gif import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = np.random.default_rng(11)
    # 100k symbols forces many width bumps AND the clear-on-full path
    for mcs, n, length in ((2, 4, 50), (4, 16, 5000), (8, 256, 100_000)):
        data = bytes(rng.integers(0, n, length, dtype=np.uint8))
        assert _lzw_decode(mcs, _lzw_encode(mcs, data), length) == data


def test_gif_roundtrip_interlace_transparency_animation():
    from media_codecs.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = (rng.integers(0, 256, (37, 53), dtype=np.uint8) % 6).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif([idx], pal)), pal[idx])
    assert np.array_equal(decode_gif(encode_gif([idx], pal, interlace=True)), pal[idx])
    # transparency: untouched canvas keeps alpha 0
    idx2 = idx.copy()
    idx2[:5, :5] = 7
    img_t = decode_gif(encode_gif([idx2], pal, transparent=7))
    assert img_t.shape[2] == 4
    assert (img_t[:5, :5, 3] == 0).all() and (img_t[10:, 10:, 3] == 255).all()
    assert np.array_equal(img_t[10:, 10:, :3], pal[idx2][10:, 10:])
    # animation: per-frame delays + composed canvases
    pal4 = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [9, 9, 9]], np.uint8)
    frames = [np.full((10, 10), i, np.uint8) for i in (0, 1, 2)]
    w, h, out = decode_gif_frames(encode_gif(frames, pal4, delays_ms=[100, 200, 300]))
    assert (w, h) == (10, 10) and [d for d, _ in out] == [100, 200, 300]
    assert np.array_equal(out[1][1][..., :3], pal4[frames[1]])


def test_gif_rejects_corrupt():
    import pytest

    from media_codecs.gif import (
        decode_gif,
        encode_gif,
    )

    pal = np.zeros((4, 3), np.uint8)
    ok = encode_gif([np.zeros((6, 6), np.uint8)], pal)
    for bad in (b"notagif", b"GIF89a" + b"\x00" * 5, ok[:20]):
        with pytest.raises((ValueError, IndexError, struct.error)):
            decode_gif(bad)


def _bmp_bytes(img, top_down=False):
    h, w, c = img.shape
    row_bytes = (w * c + 3) // 4 * 4
    px = bytearray()
    for r in img if top_down else img[::-1]:
        line = r[:, ::-1].tobytes() if c == 3 else r[:, [2, 1, 0, 3]].tobytes()
        px += line + b"\x00" * (row_bytes - len(line))
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
    hdr += struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, c * 8, 0, len(px), 0, 0, 0, 0
    )
    return hdr + bytes(px)


def test_bmp_decode_variants():
    from media_codecs.webimage import decode_bmp

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (13, 10, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(_bmp_bytes(img)), img)  # bottom-up
    assert np.array_equal(decode_bmp(_bmp_bytes(img, top_down=True)), img)
    img4 = rng.integers(0, 256, (7, 5, 4), dtype=np.uint8)
    assert np.array_equal(decode_bmp(_bmp_bytes(img4)), img4)
    # 8-bit palette, bottom-up, padded rows
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (6, 9), dtype=np.uint8)
    row_bytes = (9 + 3) // 4 * 4
    px = b"".join(bytes(idx[r]) + b"\x00" * (row_bytes - 9) for r in range(5, -1, -1))
    quads = b"".join(bytes([p[2], p[1], p[0], 0]) for p in pal)
    hdr = b"BM" + struct.pack("<IHHI", 54 + 1024 + len(px), 0, 0, 54 + 1024)
    hdr += struct.pack("<IiiHHIIiiII", 40, 9, 6, 1, 8, 0, len(px), 0, 0, 256, 0)
    assert np.array_equal(decode_bmp(hdr + quads + px), pal[idx])
    import pytest

    with pytest.raises(ValueError):
        decode_bmp(_bmp_bytes(img)[:30])


def test_webp_header_parse():
    import pytest

    from media_codecs.webimage import (
        webp_dimensions,
    )

    vp8 = (
        b"RIFF" + struct.pack("<I", 30) + b"WEBPVP8 " + struct.pack("<I", 20)
        + b"\x00" * 3 + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240) + b"\x00" * 4
    )
    assert webp_dimensions(vp8) == (320, 240, "VP8")
    bits = 99 | (149 << 14)
    vp8l = (
        b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8L" + struct.pack("<I", 10)
        + b"\x2f" + struct.pack("<I", bits)
    )
    assert webp_dimensions(vp8l) == (100, 150, "VP8L")
    vp8x = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8X" + struct.pack("<I", 10)
        + b"\x00" * 4 + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    )
    assert webp_dimensions(vp8x) == (640, 480, "VP8X")
    with pytest.raises(ValueError):
        webp_dimensions(b"RIFFxxxxWEBPabcd....")


def test_image_metadata_bmp_webp(spark):
    from media_codecs.multimodal import (
        image_metadata,
    )

    img = np.full((8, 6, 3), 50, dtype=np.uint8)
    vp8l = (
        b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8L" + struct.pack("<I", 10)
        + b"\x2f" + struct.pack("<I", 99 | (149 << 14))
    )
    df = spark.createDataFrame(
        [("bmp", bytearray(_bmp_bytes(img))), ("webp", bytearray(vp8l))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in image_metadata(df).collect()}
    b = out["bmp"]
    assert b.decode_error is None and (b.width, b.height, b.channels) == (6, 8, 3)
    assert abs(b.mean_luma - 50.0) < 0.01
    w = out["webp"]
    # header dims real, pixels honestly not decodable here
    assert (w.width, w.height) == (100, 150)
    assert w.phash is None and "VP8L" in w.decode_error


def test_gif_decodes_published_spec_vector():
    """Ground truth against a REAL third-party encoder: the 10x10 sample
    from the GIF89a 'What's in a GIF' walkthrough (decodable by giflib/
    PIL/browsers). Pins the LZW code-width boundary to the spec — a
    self-round-tripping codec pair with a shared off-by-one would fail
    this."""
    from media_codecs.gif import (
        _lzw_decode,
        decode_gif,
    )

    stream = bytes.fromhex("8c2d99872a1cdc33a00275ec95faa8de608c04914c01")
    expected = (
        "1111122222" "1111122222" "1111122222" "1110000222" "1110000222"
        "2220000111" "2220000111" "2222211111" "2222211111" "2222211111"
    )
    got = _lzw_decode(2, stream, 100)
    assert list(got) == [int(c) for c in expected]
    # full container: header + GCT (white/red/blue/black) + image block
    gif = (
        b"GIF89a"
        + struct.pack("<HH", 10, 10)
        + bytes([0x91, 0, 0])
        + bytes([255, 255, 255, 255, 0, 0, 0, 0, 255, 0, 0, 0])
        + bytes([0x2C])
        + struct.pack("<HHHH", 0, 0, 10, 10)
        + bytes([0x00, 0x02, len(stream)])
        + stream
        + bytes([0x00, 0x3B])
    )
    img = decode_gif(gif)
    pal = np.array([[255, 255, 255], [255, 0, 0], [0, 0, 255]], np.uint8)
    exp_img = pal[np.array([int(c) for c in expected]).reshape(10, 10)]
    assert np.array_equal(img, exp_img)


def _make_tiff(img, endian="<", comp=1, rps=None, pred=1, photo=None):
    """Minimal stripped-TIFF writer for decoder vectors (both byte orders,
    none/deflate compression, horizontal predictor, multi-strip)."""
    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else img.shape[2]
    px = img.reshape(h, w, spp)
    if photo is None:
        photo = 1 if spp == 1 else 2
    rps = rps or h
    strips = []
    for r0 in range(0, h, rps):
        block = px[r0 : r0 + rps]
        if pred == 2:
            d = block.astype(np.int16)
            d[:, 1:] = d[:, 1:] - d[:, :-1]
            block = (d % 256).astype(np.uint8)
        raw = block.tobytes()
        if comp in (8, 32946):
            raw = zlib.compress(raw)
        strips.append(raw)
    e = endian
    entries = [
        (256, 4, 1, [w]), (257, 4, 1, [h]), (258, 3, spp, [8] * spp),
        (259, 3, 1, [comp]), (262, 3, 1, [photo]), (277, 3, 1, [spp]),
        (278, 4, 1, [rps]), (284, 3, 1, [1]),
    ]
    if pred == 2:
        entries.append((317, 3, 1, [2]))
    fmts, sizes = {3: "H", 4: "I"}, {3: 2, 4: 4}
    n = len(entries) + 2
    ifd_off = 8
    ext_base = ifd_off + 2 + n * 12 + 4
    ext_len = sum(
        sizes[t] * len(v) for _, t, _, v in entries if sizes[t] * len(v) > 4
    )
    if len(strips) > 1:
        ext_len += 8 * len(strips)
    strip_start = ext_base + ext_len
    offs, cur = [], strip_start
    for s in strips:
        offs.append(cur)
        cur += len(s)
    cnts = [len(s) for s in strips]
    ext = bytearray()
    ext_pos = ext_base
    final = []
    for tag, typ, cnt, vals in entries:
        total = sizes[typ] * cnt
        if total <= 4:
            final.append((tag, typ, cnt, struct.pack(e + fmts[typ] * cnt, *vals).ljust(4, b"\x00")))
        else:
            final.append((tag, typ, cnt, struct.pack(e + "I", ext_pos)))
            ext += struct.pack(e + fmts[typ] * cnt, *vals)
            ext_pos += total
    for tag, vals in ((273, offs), (279, cnts)):
        if len(vals) == 1:
            final.append((tag, 4, 1, struct.pack(e + "I", vals[0])))
        else:
            final.append((tag, 4, len(vals), struct.pack(e + "I", ext_pos)))
            ext += struct.pack(e + "I" * len(vals), *vals)
            ext_pos += 4 * len(vals)
    final.sort(key=lambda x: x[0])
    ifd = struct.pack(e + "H", len(final))
    for tag, typ, cnt, raw in final:
        ifd += struct.pack(e + "HHI", tag, typ, cnt) + raw
    ifd += struct.pack(e + "I", 0)
    hdr = (b"II" if e == "<" else b"MM") + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
    return hdr + ifd + bytes(ext) + b"".join(strips)


def test_tiff_decode_variants():
    import pytest

    from media_codecs.webimage import decode_tiff

    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (7, 20), dtype=np.uint8)
    for e in ("<", ">"):
        assert np.array_equal(decode_tiff(_make_tiff(rgb, e)), rgb)
        assert np.array_equal(decode_tiff(_make_tiff(gray, e))[..., 0], gray)
        # deflate + horizontal predictor + multi-strip
        assert np.array_equal(decode_tiff(_make_tiff(rgb, e, comp=8, rps=4, pred=2)), rgb)
        assert np.array_equal(decode_tiff(_make_tiff(rgb, e, rps=5)), rgb)
    # white-is-zero grayscale inverts
    assert np.array_equal(decode_tiff(_make_tiff(gray, photo=0))[..., 0], 255 - gray)
    for bad in (b"II\x2b\x00xxxx", _make_tiff(rgb)[:40], b"XX"):
        with pytest.raises((ValueError, struct.error, IndexError)):
            decode_tiff(bad)


def test_tiff_packbits_roundtrip():
    from media_codecs.webimage import _packbits

    # literal + repeat runs + no-op byte
    enc = bytes([2, 10, 20, 30]) + bytes([257 - 5, 7]) + bytes([128]) + bytes([0, 9])
    assert _packbits(enc) == bytes([10, 20, 30]) + bytes([7] * 5) + bytes([9])


def test_image_metadata_real_tiff(spark):
    from media_codecs.multimodal import (
        image_metadata,
    )

    img = np.full((11, 5, 3), 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [("t", bytearray(_make_tiff(img, comp=8, pred=2)))],
        "asset_id string, payload binary",
    )
    r = image_metadata(df).collect()[0]
    assert r.decode_error is None and (r.width, r.height, r.channels) == (5, 11, 3)
    assert abs(r.mean_luma - 77.0) < 0.01


def _ext80(rate):
    import math

    if rate == 0:
        return b"\x00" * 10
    m, e = math.frexp(rate)
    return struct.pack(">HQ", e - 1 + 16383, int(m * (1 << 64)))


def test_audio_metadata_real_aiff(spark):
    from media_codecs.multimodal import (
        audio_metadata,
    )

    n = 2000
    t = np.arange(n) / 8000.0
    pcm = (np.sin(2 * np.pi * 440 * t) * 32767).astype(">i2").tobytes()
    comm = struct.pack(">hIh", 1, n, 16) + _ext80(8000.0)
    ssnd = struct.pack(">II", 0, 0) + pcm
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    aiff = b"FORM" + struct.pack(">I", len(body)) + body
    commc = struct.pack(">hIh", 1, n, 16) + _ext80(8000.0) + b"ima4\x00"
    bodyc = (
        b"AIFC"
        + b"COMM" + struct.pack(">I", len(commc)) + commc
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    aifc = b"FORM" + struct.pack(">I", len(bodyc)) + bodyc
    df = spark.createDataFrame(
        [("a", bytearray(aiff)), ("c", bytearray(aifc))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in audio_metadata(df).collect()}
    a = out["a"]
    assert a.decode_error is None
    assert (a.sample_rate, a.channels, a.bits_per_sample, a.n_samples) == (8000, 1, 16, n)
    assert a.duration_ms == 250
    assert abs(a.rms - 0.7071) < 0.01 and 0.98 <= a.peak <= 1.0
    assert "ima4" in out["c"].decode_error  # compressed AIFF-C quarantines


def _ico_bytes(entries):
    out = bytearray(b"\x00\x00\x01\x00" + struct.pack("<H", len(entries)))
    off = 6 + 16 * len(entries)
    for w, h, p in entries:
        out += bytes([w % 256, h % 256, 0, 0]) + struct.pack("<HH", 1, 32)
        out += struct.pack("<II", len(p), off)
        off += len(p)
    for _, _, p in entries:
        out += p
    return bytes(out)


def test_ico_decode_png_and_dib_entries():
    import pytest

    from azure_workflow_for_kml_satellite_spark.functions.png import encode_png_rgba
    from media_codecs.webimage import decode_ico

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 32, 4), dtype=np.uint8)
    assert np.array_equal(decode_ico(_ico_bytes([(32, 32, encode_png_rgba(img))])), img)
    # classic 32-bit DIB entry: doubled height, bottom-up BGRA
    bgra = rng.integers(0, 256, (16, 16, 4), dtype=np.uint8)
    dib = struct.pack("<IiiHHIIiiII", 40, 16, 32, 1, 32, 0, 0, 0, 0, 0, 0)
    px = bgra[::-1][..., [2, 1, 0, 3]].tobytes()
    assert np.array_equal(decode_ico(_ico_bytes([(16, 16, dib + px)])), bgra)
    # largest entry wins
    both = _ico_bytes([(16, 16, dib + px), (32, 32, encode_png_rgba(img))])
    assert decode_ico(both).shape == (32, 32, 4)
    with pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x02\x00")


def test_svg_dimensions_parse():
    import pytest

    from media_codecs.webimage import (
        svg_dimensions,
    )

    assert svg_dimensions(b'<svg width="640" height="480px" xmlns="x">') == (640, 480)
    assert svg_dimensions(b'<?xml version="1.0"?>\n<svg viewBox="0 0 120.5 80">') == (120, 80)
    with pytest.raises(ValueError):
        svg_dimensions(b"<svg >")
    with pytest.raises(ValueError):
        svg_dimensions(b"just text")


def test_image_metadata_ico_svg(spark):
    from azure_workflow_for_kml_satellite_spark.functions.png import encode_png_rgba
    from media_codecs.multimodal import (
        image_metadata,
    )

    img = np.full((24, 24, 4), 120, dtype=np.uint8)
    ico = _ico_bytes([(24, 24, encode_png_rgba(img))])
    svg = b'<svg width="300" height="150" xmlns="http://www.w3.org/2000/svg"></svg>'
    df = spark.createDataFrame(
        [("ico", bytearray(ico)), ("svg", bytearray(svg))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in image_metadata(df).collect()}
    i = out["ico"]
    assert i.decode_error is None and (i.width, i.height, i.channels) == (24, 24, 4)
    s = out["svg"]
    assert (s.width, s.height) == (300, 150)
    assert s.phash is None and "renderer stubbed" in s.decode_error
