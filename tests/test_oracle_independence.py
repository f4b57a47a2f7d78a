"""The sequential oracle's kernels (oracle/kernels.py) are a from-scratch
second implementation of the engine kernels (functions/*). These tests fuzz
the two against each other: a bug introduced in either side now fails here
instead of silently passing both sides of the expected-parquet gate
(round-1 ADVICE item: de-self-referee the oracle)."""

from __future__ import annotations

import random

import numpy as np

from azure_workflow_for_kml_satellite_spark.functions import geometry as geo
from azure_workflow_for_kml_satellite_spark.functions import kml as kml_fn
from azure_workflow_for_kml_satellite_spark.functions import metrics as M
from azure_workflow_for_kml_satellite_spark.functions import native as N
from azure_workflow_for_kml_satellite_spark.functions import raster as R
from azure_workflow_for_kml_satellite_spark.oracle import kernels as K

RNG = random.Random(0xC0FFEE)


def _rand_ring(n):
    lon0, lat0 = RNG.uniform(-170, 170), RNG.uniform(-55, 55)
    ring = [
        [lon0 + RNG.uniform(-0.05, 0.05), lat0 + RNG.uniform(-0.05, 0.05)]
        for _ in range(n)
    ]
    if RNG.random() < 0.5:
        ring.append(list(ring[0]))
    return ring


def test_geometry_kernels_bit_parity():
    for _ in range(300):
        ring = _rand_ring(RNG.randint(3, 12))
        assert K.bbox_of(ring) == geo.compute_bbox(ring)
        bb = geo.compute_bbox(ring)
        assert K.expand_bbox_m(bb, 250.0) == geo.buffer_bbox(bb, 250.0)
        assert K.vertex_mean(ring) == geo.centroid(ring)
        a1, p1 = K.area_and_perimeter(ring)
        a2, p2 = geo.geodesic_area_and_perimeter(ring)
        assert (a1, p1) == (a2, p2)
        assert K.span_m(ring) == geo.max_span_m(ring)
        assert K.inside_conus(ring) == geo.aoi_has_naip(ring)
        lon, lat = RNG.uniform(-1, 1) + ring[0][0], RNG.uniform(-1, 1) + ring[0][1]
        assert K.pip_even_odd(lon, lat, ring) == geo.point_in_ring(lon, lat, ring)


def test_raster_field_bit_parity():
    for _ in range(40):
        seed = RNG.randrange(2**32)
        band = RNG.choice([R.BAND_RED, R.BAND_NIR, R.BAND_SCL, R.BAND_QA, R.BAND_CLASS])
        r0 = RNG.randrange(0, 5000)
        c0 = RNG.randrange(0, 5000)
        win = (r0, r0 + RNG.randint(1, 40), c0, c0 + RNG.randint(1, 40))
        a = R.gen_band(seed, band, win)
        b = K.band_pixels(seed, band, win)
        assert a.dtype == b.dtype and np.array_equal(a, b)


def test_windowing_and_ndvi_bit_parity():
    for _ in range(30):
        scene_bbox = [RNG.uniform(-50, 50), RNG.uniform(-40, 40), 0, 0]
        scene_bbox[2] = scene_bbox[0] + RNG.uniform(0.5, 2.0)
        scene_bbox[3] = scene_bbox[1] + RNG.uniform(0.5, 2.0)
        rb = [
            scene_bbox[0] + RNG.uniform(-0.1, 0.4),
            scene_bbox[1] + RNG.uniform(-0.1, 0.4),
            0,
            0,
        ]
        rb[2] = rb[0] + RNG.uniform(0.005, 0.05)
        rb[3] = rb[1] + RNG.uniform(0.005, 0.05)
        res = RNG.choice([10.0, 30.0])
        coll = RNG.choice(["sentinel-2-l2a", "landsat-c2-l2"])
        assert K.clamp_window(scene_bbox, res, rb) == R.window_from_bounds(
            scene_bbox, res, rb
        )
        sid = f"scene_{RNG.randrange(10**6)}"
        ba = R.read_window_bands(sid, scene_bbox, res, rb, coll)
        bb = K.fetch_window_bands(sid, scene_bbox, res, rb, coll)
        assert (ba is None) == (bb is None)
        if ba is None:
            continue
        assert set(ba) == set(bb)
        for k in ba:
            assert np.array_equal(ba[k], bb[k]), k
        if coll == "sentinel-2-l2a":
            n1 = R.ndvi_s2(ba["red"], ba["nir"], ba.get("scl"))
            n2 = K.s2_ndvi(bb["red"], bb["nir"], bb.get("scl"))
        else:
            n1 = R.ndvi_landsat(ba["red"], ba["nir"], ba.get("qa"))
            n2 = K.landsat_ndvi(bb["red"], bb["nir"], bb.get("qa"))
        assert np.array_equal(n1[0], n2[0], equal_nan=True)
        assert np.array_equal(n1[1], n2[1])
        assert n1[2] == n2[2]
        assert R.ndvi_statistics(n1[0], n1[1]) == K.ndvi_stats(n2[0], n2[1])
        # the operators' stats entry point, on the C path and on the numpy
        # path a box without gcc runs
        want = (K.ndvi_stats(n2[0], n2[1]), n2[2])
        assert R.ndvi_window_stats_blocked(sid, scene_bbox, res, rb, coll) == want
        lib = N.LIB
        try:
            N.LIB = None
            assert R.ndvi_window_stats_blocked(sid, scene_bbox, res, rb, coll) == want
        finally:
            N.LIB = lib
        m1 = np.where(n1[1], n1[0], np.nan).astype(np.float32)
        m1b = np.roll(m1, 1, axis=0)
        assert R.change_stats(m1, m1b, 0.01) == K.delta_stats(m1, m1b, 0.01)


def test_class_window_and_histogram_parity():
    for _ in range(20):
        rb = [RNG.uniform(-170, 160), RNG.uniform(-60, 50), 0, 0]
        rb[2] = rb[0] + RNG.uniform(0.005, 0.03)
        rb[3] = rb[1] + RNG.uniform(0.005, 0.03)
        layer = RNG.choice(["worldcover", "io-lulc-2020", "io-lulc-2023"])
        a = R.read_class_window(layer, rb, 10.0)
        b = K.fetch_class_window(layer, rb, 10.0)
        assert (a is None) == (b is None)
        if a is None:
            continue
        assert np.array_equal(a, b)
        assert R.class_histogram(a) == K.class_counts(b)


def test_metric_kernels_parity():
    for _ in range(200):
        n = RNG.randint(0, 10)
        fm = [
            (i, None if RNG.random() < 0.3 else RNG.uniform(-0.2, 0.9))
            for i in range(n)
        ]
        assert K.trend_of(fm) == M.ndvi_trend(fm)
        k = RNG.randint(0, 6)
        md = [RNG.uniform(-0.3, 0.3) for _ in range(k)]
        lh = [RNG.uniform(0, 50) for _ in range(k)]
        gh = [RNG.uniform(0, 50) for _ in range(k)]
        assert K.rollup_changes(md, lh, gh) == M.change_summary(md, lh, gh)


def test_kml_parsing_parity():
    kml = b"""<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Placemark><name> Farm A </name><description>d1</description>
<ExtendedData><Data name="owner"><value>alice</value></Data>
<Data name=""><value>skipme</value></Data></ExtendedData>
<Polygon><outerBoundaryIs><LinearRing><coordinates>
 0,0,12 1,0 1,1 0,1
</coordinates></LinearRing></outerBoundaryIs>
<innerBoundaryIs><LinearRing><coordinates>0.2,0.2 0.8,0.2 0.5,0.8</coordinates></LinearRing></innerBoundaryIs>
</Polygon></Placemark>
<Placemark><Polygon><outerBoundaryIs><LinearRing><coordinates>
 5,5 bad,token 6,5 6,6 5,6 5,5
</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>
<Placemark><Polygon><outerBoundaryIs><LinearRing><coordinates>
 9,9 9.5,9
</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>
</Document></kml>"""
    assert K.parse_kml_features(kml, "u") == kml_fn.parse_kml(kml, "u")
    # legacy namespace quirk: validates but parses to zero features
    legacy = kml.replace(b"http://www.opengis.net/kml/2.2", b"http://earth.google.com/kml/2.1")
    K.check_kml(legacy)
    kml_fn.validate_kml_bytes(legacy)
    assert K.parse_kml_features(legacy) == kml_fn.parse_kml(legacy) == []

    html = (
        b"<html><body>before " + kml + b" mid <kmlx>decoy</kmlx> "
        b'<script type="application/vnd.kmz">aGVsbG8=</script> after</body></html>'
    )
    assert K.find_kml_payloads(html) == kml_fn.extract_kml_documents(html)

    import zipfile
    from io import BytesIO

    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("doc.kml", kml)
    kmz = buf.getvalue()
    assert K.unzip_kmz(kmz) == kml_fn.maybe_unzip(kmz) == kml
    for bad in (b"<!DOCTYPE kml []><kml/>", b"<notkml/>", b"<kml xmlns='urn:x'/>", b"<kml"):
        e1 = e2 = None
        try:
            kml_fn.validate_kml_bytes(bad)
        except ValueError as exc:
            e1 = str(exc)
        try:
            K.check_kml(bad)
        except ValueError as exc:
            e2 = str(exc)
        assert e1 == e2 and e1 is not None


def test_xxh64_matches_spark_jvm(spark):
    """The pure-Python xxhash64 (oracle/xxh64.py) must match Spark's JVM
    expression exactly — the text/dedup expected-parquet oracles depend on
    it. Covers str, long, long+int-literal chains across tail lengths."""
    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark.oracle.xxh64 import xxhash64

    strs = ["", "a", "hello world", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
            "v" * 100, "unicode ü€ test", "tok123 tok456 tok789"]
    df = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h"), F.xxhash64("s", "s").alias("hh")
    )
    for r in df.collect():
        assert r.h == xxhash64(r.s)
        assert r.hh == xxhash64(r.s, r.s)
    longs = [0, 1, -1, 2**63 - 1, -(2**63), 42, 123456789123456789]
    df2 = spark.createDataFrame([(v,) for v in longs], "v long")
    for k in (0, 3, 63):
        got = df2.select("v", F.xxhash64("v", F.lit(k)).alias("h")).collect()
        for r in got:
            assert r.h == xxhash64(r.v, ("int", k))


def test_windowing_properties():
    """Hypothesis: every clamped window is inside the raster, non-empty
    windows cover the requested bbox's in-scene portion, and the two
    implementations agree everywhere (not just on the fuzz seeds above)."""
    from hypothesis import given, settings, strategies as st

    from azure_workflow_for_kml_satellite_spark.functions import raster as R

    @settings(max_examples=200, deadline=None)
    @given(
        x0=st.floats(-179, 178), y0=st.floats(-89, 88),
        w=st.floats(0.01, 1.5), h=st.floats(0.01, 1.5),
        rx=st.floats(-0.5, 0.5), ry=st.floats(-0.5, 0.5),
        rw=st.floats(0.001, 0.8), rh=st.floats(0.001, 0.8),
        res=st.sampled_from([10.0, 20.0, 30.0]),
    )
    def check(x0, y0, w, h, rx, ry, rw, rh, res):
        scene = [x0, y0, x0 + w, y0 + h]
        read = [x0 + rx, y0 + ry, x0 + rx + rw, y0 + ry + rh]
        win = R.window_from_bounds(scene, res, read)
        assert win == K.clamp_window(scene, res, read)
        gh, gw = R.grid_shape(scene, res)
        if win is not None:
            r0, r1, c0, c1 = win
            assert 0 <= r0 < r1 <= gh and 0 <= c0 < c1 <= gw

    check()
