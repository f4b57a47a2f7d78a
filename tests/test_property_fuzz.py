"""Property-based checks (hypothesis) for the round-3 numeric kernels:
the exact portfolio expansion fold and the vendored ellipsoidal geodesic.
Spark-free — pure-Python invariants that the distributed operators build on.
"""

import math

from hypothesis import given, settings, strategies as st

from azure_workflow_for_kml_satellite_spark.functions import geodesic as gd
from azure_workflow_for_kml_satellite_spark.operators.metrics import _expansion_add

finite_doubles = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@settings(max_examples=300, deadline=None)
@given(st.lists(finite_doubles, min_size=0, max_size=200), st.integers(1, 7))
def test_expansion_partials_are_exact(values, n_parts):
    """Splitting values into any number of partition partials and fsum-ing
    the concatenated expansion components must equal fsum of the raw values
    EXACTLY (bit-for-bit) — the invariant the two-level portfolio fold's
    partitioning-independence rests on."""
    chunks = [values[i::n_parts] for i in range(n_parts)]
    components = []
    for chunk in chunks:
        partial: list = []
        for v in chunk:
            _expansion_add(partial, v)
        # the expansion exactly represents the chunk sum
        assert math.fsum(partial) == math.fsum(chunk)
        components.extend(partial)
    assert math.fsum(components) == math.fsum(values)


lat = st.floats(min_value=-84.0, max_value=84.0, allow_nan=False)
lon = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False)


@settings(max_examples=100, deadline=None)
@given(lon, lat, lon, lat)
def test_vincenty_symmetric_and_bounded(lon1, lat1, lon2, lat2):
    """d(a,b) == d(b,a) (within fp noise), 0 ≤ d ≤ half the WGS84 equator,
    and the sphere approximation agrees within the flattening (~0.6%)."""
    try:
        d1 = gd.vincenty_distance_m(lon1, lat1, lon2, lat2)
        d2 = gd.vincenty_distance_m(lon2, lat2, lon1, lat1)
    except ValueError:
        return  # documented near-antipodal non-convergence — not a segment
    assert abs(d1 - d2) <= max(1e-6, 1e-9 * d1)
    assert 0.0 <= d1 <= math.pi * gd.WGS84_A + 1.0
    if d1 > 1.0:
        from azure_workflow_for_kml_satellite_spark.functions.geometry import (
            haversine_km,
        )

        sphere = haversine_km(lon1, lat1, lon2, lat2) * 1000.0
        assert abs(d1 - sphere) / d1 < 0.007


@settings(max_examples=60, deadline=None)
@given(
    st.floats(min_value=-170.0, max_value=170.0),
    st.floats(min_value=-80.0, max_value=80.0),
    st.floats(min_value=0.001, max_value=2.0),
    st.floats(min_value=0.001, max_value=2.0),
)
def test_authalic_patch_area_matches_quadrature(lon0, lat0, dlon, dlat):
    """Random parallel-bounded patches: the authalic-mapped area must match
    direct 2-D quadrature of the ellipsoid area element to ~1e-9 relative."""
    import numpy as np

    ring = [
        [lon0, lat0],
        [lon0 + dlon, lat0],
        [lon0 + dlon, lat0 + dlat],
        [lon0, lat0 + dlat],
        [lon0, lat0],
    ]
    got = gd.ellipsoidal_area_m2(ring)
    a, e2 = gd.WGS84_A, gd.WGS84_F * (2 - gd.WGS84_F)
    x, w = np.polynomial.legendre.leggauss(48)
    phi = (x + 1.0) / 2.0 * math.radians(dlat) + math.radians(lat0)
    ww = np.sqrt(1 - e2 * np.sin(phi) ** 2)
    integrand = (a * (1 - e2) / ww**3) * (a / ww) * np.cos(phi)
    band = float(np.sum(w * integrand) * math.radians(dlat) / 2.0)
    exp = band * math.radians(dlon)
    assert abs(got - exp) < max(1e-9 * exp, 1e-4)


# ── codec robustness: dirty-web-data never crashes or hangs a task ─────────
#
# The multimodal operators run these decoders inside mapInPandas over
# arbitrary crawled bytes; the contract is decode-or-ValueError (plus the
# narrow IndexError/struct.error families the operators translate), never
# an unbounded loop or an uncaught exception type.

import struct as _struct

import numpy as np

_DECODE_OK = (ValueError, IndexError, KeyError, _struct.error)


def _fuzz_roundtrip(decode, blob, n_mutations, rng):
    for _ in range(n_mutations):
        b = bytearray(blob)
        for _ in range(rng.integers(1, 6)):
            b[rng.integers(0, len(b))] = rng.integers(0, 256)
        try:
            decode(bytes(b))
        except _DECODE_OK:
            pass


@settings(max_examples=1, deadline=None)
@given(st.integers(0, 0))
def test_fuzz_gif_decoder_never_crashes(_):
    from media_codecs.gif import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(42)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (20, 20), dtype=np.uint8)
    blob = encode_gif([idx, idx], pal, delays_ms=[100, 100], interlace=True)
    _fuzz_roundtrip(decode_gif, blob, 300, rng)


@settings(max_examples=1, deadline=None)
@given(st.integers(0, 0))
def test_fuzz_jpeg_decoder_never_crashes(_):
    from media_codecs.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(43)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    _fuzz_roundtrip(decode_jpeg, encode_jpeg(img, subsample="4:2:0"), 150, rng)
    _fuzz_roundtrip(decode_jpeg, encode_jpeg_progressive(img), 150, rng)


@settings(max_examples=1, deadline=None)
@given(st.integers(0, 0))
def test_fuzz_png_any_decoder_never_crashes(_):
    from azure_workflow_for_kml_satellite_spark.functions.png import encode_png_rgba
    from media_codecs.png_any import decode_png_any

    rng = np.random.default_rng(44)
    img = rng.integers(0, 256, (20, 20, 4), dtype=np.uint8)
    _fuzz_roundtrip(decode_png_any, encode_png_rgba(img), 300, rng)


@settings(max_examples=1, deadline=None)
@given(st.integers(0, 0))
def test_fuzz_container_parsers_never_crash(_):
    from media_codecs.webimage import (
        decode_bmp,
        decode_ico,
        decode_tiff,
        svg_dimensions,
        webp_dimensions,
    )
    from media_codecs.multimodal import (
        _parse_aiff,
        _parse_flac,
        _parse_mjpeg_avi,
        _parse_mkv,
        _parse_mp3,
        _parse_mp4,
        _parse_ogg,
        _parse_wav,
    )

    rng = np.random.default_rng(45)
    parsers = (
        _parse_mp4, _parse_mkv, _parse_mjpeg_avi, _parse_wav, _parse_aiff,
        _parse_mp3, _parse_ogg, _parse_flac, decode_bmp, decode_ico,
        decode_tiff, svg_dimensions, webp_dimensions,
    )
    # random garbage with plausible magics spliced in
    magics = (
        b"\x00\x00\x00\x18ftyp", b"\x1aE\xdf\xa3", b"RIFF1234AVI ",
        b"RIFF1234WAVE", b"RIFF1234WEBP", b"ID3", b"\xff\xfb", b"OggS",
        b"fLaC", b"BM", b"II\x2a\x00", b"MM\x00\x2a", b"FORM1234AIFF",
        b"\x00\x00\x01\x00\x02\x00", b"<svg ",
    )
    for _ in range(200):
        blob = bytearray(rng.integers(0, 256, int(rng.integers(10, 400)), dtype=np.uint8).tobytes())
        m = magics[int(rng.integers(0, len(magics)))]
        blob[: len(m)] = m
        for parse in parsers:
            try:
                parse(bytes(blob))
            except _DECODE_OK:
                pass


@settings(max_examples=2000, deadline=None)
@given(st.text(alphabet="<>/scriptkmlstyle abX\n\t\u00e9\u00b2", max_size=80))
def test_visible_text_scanner_matches_engine_regex(s):
    """The oracle's find()-scanner extraction and the engine's regex
    pipeline are independent implementations of the same public rule —
    they must agree byte-for-byte on arbitrary tag soup (the per-url
    text invariant gate, q_page_text, rests on this)."""
    from azure_workflow_for_kml_satellite_spark.functions.kml import extract_text
    from azure_workflow_for_kml_satellite_spark.oracle.kernels import visible_text

    b = s.encode()
    assert extract_text(b) == visible_text(b)


@settings(max_examples=3000, deadline=None)
@given(st.text(alphabet="0123456789.,;+- \t\r\x0b\x0c\n#e\u00b2\u0661", max_size=40))
def test_coord_parser_oracle_matches_engine(text):
    """The oracle's hand tokenizer + own circle math and the engine's
    regex parser (operators/coords.py) are independent implementations of
    the pasted-coordinates rule — byte-identical feature lists on
    arbitrary input (the q_coord_text gate rests on this)."""
    from azure_workflow_for_kml_satellite_spark.functions.geometry import flatten_ring
    from azure_workflow_for_kml_satellite_spark.operators.coords import (
        parse_coordinate_text,
    )
    from azure_workflow_for_kml_satellite_spark.oracle.kernels import (
        parse_coordinate_request,
    )

    engine = [
        (f["source"], f.get("feature_index"), f.get("name"),
         flatten_ring(f["exterior"]) if "exterior" in f else None, f.get("error"))
        for f in parse_coordinate_text(text, "s")
    ]
    oracle = [
        (f["source"], f["feature_index"], f["name"], f["exterior"], f["error"])
        for f in parse_coordinate_request("s", text)
    ]
    assert engine == oracle


@settings(max_examples=2000, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["lat", "LAT", "Latitude ", "y", "Y", "lng", "Longitude", "x",
             "name", "Label", "id", "TITLE", "zzz", "lat_deg", "longit",
             "idx", "latch", "xylo", ""]
        ),
        min_size=1, max_size=7, unique=True,
    )
)
def test_csv_column_matcher_oracle_matches_engine(cols):
    """The oracle's fuzzy-header matcher mirrors the engine's exactly —
    incl. the keyed-lookup last-wins collision semantics (q_coord_csv)."""
    from azure_workflow_for_kml_satellite_spark.operators.coords import match_columns
    from azure_workflow_for_kml_satellite_spark.oracle.kernels import (
        _CSV_LAT_CANDS,
        _CSV_LON_CANDS,
        _CSV_NAME_CANDS,
        _match_csv_column,
    )

    assert match_columns(cols) == (
        _match_csv_column(cols, _CSV_LAT_CANDS),
        _match_csv_column(cols, _CSV_LON_CANDS),
        _match_csv_column(cols, _CSV_NAME_CANDS),
    )


@settings(max_examples=1, deadline=None)
@given(st.integers(0, 0))
def test_fuzz_flac_frame_decoder_never_crashes(_):
    """Mutated REAL FLAC streams (with audio frames, both stereo modes)
    must either parse or raise a clean decode error — the frame decoder's
    bit reader, rice/LPC paths and CRC checks all bounds-check."""
    from media_codecs.flac import encode_flac
    from media_codecs.multimodal import (
        _parse_flac,
    )

    rng = np.random.default_rng(46)
    mono = rng.integers(-5000, 5000, 700).astype(np.int64)
    stereo = rng.integers(-5000, 5000, (400, 2)).astype(np.int64)
    for blob in (
        encode_flac(mono, 44100, 16, block=192),
        encode_flac(stereo, 48000, 16, block=256, stereo_mode="mid-side"),
    ):
        _fuzz_roundtrip(_parse_flac, blob, 1500, rng)


@settings(max_examples=1, deadline=None)
@given(st.integers(0, 0))
def test_fuzz_vp8l_decoder_never_crashes(_):
    from media_codecs.vp8l import (
        encode_webp_lossless,
    )
    from media_codecs.webimage import decode_webp

    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, (24, 16, 4), dtype=np.uint8)
    _fuzz_roundtrip(decode_webp, encode_webp_lossless(img), 800, rng)


@settings(max_examples=1, deadline=None)
@given(st.integers(0, 0))
def test_fuzz_compressed_wav_parsers_never_crash(_):
    """Mutated G.711 and IMA-ADPCM WAVE payloads must parse or raise a
    clean decode error."""
    import struct as _s

    from media_codecs import pcm_codecs as PC
    from media_codecs.multimodal import _parse_wav

    def wav(fmt, channels, rate, bits, align, payload):
        fb = _s.pack("<HHIIHH", fmt, channels, rate, rate * align, align, bits)
        ch = b"fmt " + _s.pack("<I", len(fb)) + fb
        ch += b"data" + _s.pack("<I", len(payload)) + payload
        return b"RIFF" + _s.pack("<I", 4 + len(ch)) + b"WAVE" + ch

    rng = np.random.default_rng(48)
    t = np.arange(900)
    sine = (9000 * np.sin(2 * np.pi * t / 90)).astype(np.int16)
    adpcm, align = PC.ima_adpcm_encode(sine, 1, samples_per_block=249)
    for blob in (
        wav(7, 1, 8000, 8, 1, PC.mulaw_encode(sine)),
        wav(6, 1, 8000, 8, 1, PC.alaw_encode(sine)),
        wav(0x11, 1, 22050, 4, align, adpcm),
    ):
        _fuzz_roundtrip(_parse_wav, blob, 800, rng)
