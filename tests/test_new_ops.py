"""Coordinate parsers, gates, exports, multimodal stubs, streaming, EUDR."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


# ── coordinate parsers (S5/S6) ───────────────────────────────────────────────


def test_coordinate_text_single_point(spark):
    from azure_workflow_for_kml_satellite_spark.operators.coords import (
        coordinate_text_features,
    )

    df = spark.createDataFrame([("s1", "-1.30, 36.80")], ["source", "coords_text"])
    rows = coordinate_text_features(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["name"] == "Point (-1.300000, 36.800000)"
    # 32-segment circle, closed → 33 pairs → 66 floats
    assert len(r["exterior"]) == 66
    # output ring is [lon, lat] (reference: coordinate_parser.py:151-153)
    assert abs(r["exterior"][0] - 36.8) < 0.01


def test_coordinate_text_polygon_and_errors(spark):
    from azure_workflow_for_kml_satellite_spark.operators.coords import (
        coordinate_text_features,
    )

    df = spark.createDataFrame(
        [
            ("poly", "0,0\n0,1\n1,1\n1,0"),
            ("bad", "91.0, 10.0"),
            ("junk", "not coords"),
        ],
        ["source", "coords_text"],
    )
    rows = {r["source"]: r for r in coordinate_text_features(df).collect()}
    assert rows["poly"]["name"] == "Coordinate polygon"
    assert rows["poly"]["exterior"][:2] == [0.0, 0.0]  # lat,lon → [lon,lat]
    assert "out of range" in rows["bad"]["error"]
    assert "Cannot parse" in rows["junk"]["error"]


def test_csv_points_fuzzy_columns(spark):
    from azure_workflow_for_kml_satellite_spark.operators.coords import (
        csv_point_features,
        coord_features_to_feature_rows,
    )

    csv_df = spark.createDataFrame(
        [("A", "-1.3", "36.8"), ("B", "40.0", "-100.0")],
        ["Name", "Latitude", "Longitude"],
    )
    feats = csv_point_features(csv_df)
    rows = {r["name"]: r for r in feats.collect()}
    assert set(rows) == {"A", "B"}
    # adapter feeds prepare_aois
    from azure_workflow_for_kml_satellite_spark.operators.aoi import prepare_aois

    aois = prepare_aois(coord_features_to_feature_rows(feats))
    got = {r["name"]: r for r in aois.collect()}
    assert got["B"]["has_naip"] is True
    assert got["A"]["area_ha"] > 0


# ── gates ────────────────────────────────────────────────────────────────────


def test_multi_region_gate(spark):
    from azure_workflow_for_kml_satellite_spark.operators.gates import is_multi_region

    near = spark.createDataFrame(
        [(36.8, -1.3), (36.9, -1.2)], ["centroid_lon", "centroid_lat"]
    )
    far = spark.createDataFrame(
        [(36.8, -1.3), (5.0, 48.0)], ["centroid_lon", "centroid_lat"]
    )
    assert is_multi_region(near) is False
    assert is_multi_region(far) is True


def test_feature_limit_gate(spark):
    from azure_workflow_for_kml_satellite_spark.operators.extract import extract_features
    from azure_workflow_for_kml_satellite_spark.operators.gates import enforce_feature_limit

    pages = spark.read.parquet(f"{SF_SMALL}/pages.parquet")
    feats = extract_features(pages)
    gated = enforce_feature_limit(feats, limit=100)
    # the monster page (200 features) trips the limit
    bad = gated.filter(F.col("error").contains("AOI limit exceeded"))
    assert bad.select("url").distinct().count() == 1


# ── exports ──────────────────────────────────────────────────────────────────


@pytest.fixture(scope="module")
def small_ndvi(spark):
    from azure_workflow_for_kml_satellite_spark.pipeline import build_ndvi

    return build_ndvi(spark, SF_SMALL).cache()


def test_geojson_export(spark, small_ndvi):
    import json

    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )
    from azure_workflow_for_kml_satellite_spark.operators.exports import geojson_per_aoi
    from azure_workflow_for_kml_satellite_spark.pipeline import build_aois

    aois = build_aois(spark, SF_SMALL)
    cs = change_summary_per_aoi(season_changes(small_ndvi))
    gj = geojson_per_aoi(aois, small_ndvi, cs)
    row = gj.filter(F.col("url") == "https://example.org/page/0000000").filter(
        F.col("feature_index") == 0
    ).collect()[0]
    doc = json.loads(row["geojson"])
    assert doc["type"] == "FeatureCollection"
    types = [f["geometry"]["type"] for f in doc["features"]]
    assert types[-1] == "Point" and "Polygon" in types
    frame_feats = [f for f in doc["features"] if f["geometry"]["type"] == "Polygon"]
    props = frame_feats[0]["properties"]
    assert {"frame_index", "label", "year", "season", "start_date", "end_date",
            "collection", "is_naip", "ndvi_mean", "ndvi_scene_id"} <= set(props)
    # ring closed, [lon, lat]
    ring = frame_feats[0]["geometry"]["coordinates"][0]
    assert ring[0] == ring[-1]


def test_frame_csv_rows(spark, small_ndvi):
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes
    from azure_workflow_for_kml_satellite_spark.operators.exports import frame_csv_rows
    from azure_workflow_for_kml_satellite_spark.operators.metrics import aoi_region
    from azure_workflow_for_kml_satellite_spark.pipeline import build_aois, load_tables

    t = load_tables(spark, SF_SMALL)
    aois = aoi_region(build_aois(spark, SF_SMALL), t["regions"])
    ch = season_changes(small_ndvi)
    rows = frame_csv_rows(small_ndvi, ch, aois, t["weather_daily"])
    sample = rows.filter(F.col("ndvi_change_from_previous").isNotNull()).limit(1).collect()
    assert sample, "no frame rows with change delta"
    assert sample[0]["mean_temp_c"] is not None
    assert rows.count() == small_ndvi.count()


def test_aoi_csv_rows(spark, small_ndvi):
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )
    from azure_workflow_for_kml_satellite_spark.operators.exports import aoi_csv_rows
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        aoi_region,
        geometry_metrics,
        ndvi_trend_per_aoi,
        weather_summary_per_aoi,
    )
    from azure_workflow_for_kml_satellite_spark.pipeline import build_aois, load_tables

    t = load_tables(spark, SF_SMALL)
    aois = build_aois(spark, SF_SMALL)
    rows = aoi_csv_rows(
        geometry_metrics(aois),
        ndvi_trend_per_aoi(small_ndvi),
        change_summary_per_aoi(season_changes(small_ndvi)),
        weather_summary_per_aoi(
            aoi_region(aois, t["regions"]), t["weather_daily"], "2022-01-01", "2023-12-31"
        ),
    )
    got = rows.filter(F.col("health_class").isNotNull()).limit(3).collect()
    assert got and {"area_ha", "compactness", "trajectory", "temp_mean_c"} <= set(rows.columns)
    assert rows.count() == aois.count()


# ── multimodal stubs ─────────────────────────────────────────────────────────


def test_image_metadata_plumbing(spark):
    from media_codecs.multimodal import image_metadata

    df = spark.createDataFrame(
        [("a", bytearray(b"fake-image-bytes-01")), ("bad", bytearray(b"xx"))],
        ["asset_id", "payload"],
    )
    rows = {r["asset_id"]: r for r in image_metadata(df).collect()}
    assert rows["a"]["decode_error"] is None and rows["a"]["width"] >= 16
    assert rows["bad"]["decode_error"] is not None
    # determinism
    rows2 = {r["asset_id"]: r for r in image_metadata(df).collect()}
    assert rows2["a"]["phash"] == rows["a"]["phash"]


def test_video_frame_sample(spark):
    from media_codecs.multimodal import video_frame_sample

    df = spark.createDataFrame([("v1", bytearray(b"fake-video-bytes"))], ["asset_id", "payload"])
    frames = video_frame_sample(df).collect()
    assert len(frames) >= 1
    assert [f["frame_index"] for f in frames] == list(range(len(frames)))


# ── streaming ────────────────────────────────────────────────────────────────


def test_streaming_extract_matches_batch(spark, tmp_path):
    import shutil

    from azure_workflow_for_kml_satellite_spark.operators.extract import extract_features
    from azure_workflow_for_kml_satellite_spark.streaming.pipelines import (
        run_stream_to_memory,
        streaming_extract,
    )

    src = tmp_path / "pages_in"
    src.mkdir()
    shutil.copy(f"{SF_SMALL}/pages.parquet", src / "pages.parquet")
    q = run_stream_to_memory(
        streaming_extract(spark, str(src)), "feat_stream", mode="append"
    )
    try:
        got = spark.sql("select count(*) n from feat_stream").collect()[0]["n"]
    finally:
        q.stop()
    batch = extract_features(spark.read.parquet(f"{SF_SMALL}/pages.parquet")).count()
    assert got == batch


def test_streaming_stateful_sessionize(spark, tmp_path):
    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark.streaming.pipelines import (
        run_stream_to_memory,
        streaming_sessionize,
    )

    src = tmp_path / "sess_in"
    src.mkdir()
    # user 1: two sessions split by a 2h gap; user 2: one session
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0, ""),
            (2, "2024-01-01 10:10:00", 1, "click", 1.0, ""),
            (3, "2024-01-01 13:00:00", 1, "click", 1.0, ""),
            (4, "2024-01-01 09:00:00", 2, "view", 1.0, ""),
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value", "props"
    )
    ev.write.parquet(str(src / "p1"))
    q = run_stream_to_memory(
        streaming_sessionize(spark, str(src) + "/*", gap_s=1800), "sess_stream", mode="append"
    )
    try:
        rows = spark.sql("select * from sess_stream").collect()
    finally:
        q.stop()
    # only user 1's FIRST session closes (gap observed); open sessions stay in state
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert r["session_start"].minute == 0 and r["session_end"].minute == 10


def test_streaming_event_window_counts(spark, tmp_path):
    from azure_workflow_for_kml_satellite_spark.streaming.pipelines import (
        run_stream_to_memory,
        streaming_event_counts,
    )

    src = tmp_path / "events_in"
    src.mkdir()
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:05:00", 1, "click", 1.0, ""),
            (2, "2024-01-01 10:45:00", 1, "click", 2.0, ""),
            (3, "2024-01-01 11:05:00", 2, "view", 3.0, ""),
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value", "props"
    )
    ev.write.parquet(str(src / "p1"))
    q = run_stream_to_memory(
        streaming_event_counts(spark, str(src) + "/*"), "evt_stream"
    )
    try:
        rows = {
            (r["window_start"].hour, r["event_type"]): r["n_events"]
            for r in spark.sql("select * from evt_stream").collect()
        }
    finally:
        q.stop()
    assert rows[(10, "click")] == 2
    assert rows[(11, "view")] == 1


def test_streaming_exact_dedup_drops_copies(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from azure_workflow_for_kml_satellite_spark.streaming.pipelines import (
        run_stream_to_memory,
        streaming_exact_dedup,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    ts = [datetime(2024, 1, 1, 0, m) for m in range(6)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2, 3, 4, 5], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "text": ["aa", "bb", "aa", "cc", "bb", "aa"],
            }
        ),
        src / "part0.parquet",
    )
    q = run_stream_to_memory(
        streaming_exact_dedup(spark, str(src)), "dedup_stream", mode="append"
    )
    try:
        rows = spark.sql("select doc_id from dedup_stream").collect()
    finally:
        q.stop()
    # one row per distinct text; within one micro-batch Spark keeps one
    # arbitrary-but-single representative per hash
    assert len(rows) == 3


def test_streaming_quality_gate_filters(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from azure_workflow_for_kml_satellite_spark.streaming.pipelines import (
        run_stream_to_memory,
        streaming_quality_gate,
    )

    src = tmp_path / "docs_q"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1, 2], pa.int64()),
                "ts": pa.array([datetime(2024, 1, 1)] * 3, pa.timestamp("us")),
                "text": [
                    "a good long document with many plain tokens here",
                    "short",
                    "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))",
                ],
            }
        ),
        src / "part0.parquet",
    )
    q = run_stream_to_memory(
        streaming_quality_gate(spark, str(src)), "quality_stream", mode="append"
    )
    try:
        ids = sorted(r.doc_id for r in spark.sql("select doc_id from quality_stream").collect())
    finally:
        q.stop()
    assert ids == [0]


def test_image_metadata_real_png_decode(spark):
    """PNG payloads go through the real from-scratch decoder: the reported
    dims/mean are TRUE pixel statistics, and corrupt PNGs quarantine."""
    import numpy as np

    from azure_workflow_for_kml_satellite_spark.functions.png import encode_png_rgba
    from media_codecs.multimodal import (
        image_metadata,
    )

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(12, 17, 4), dtype=np.uint8)
    good = encode_png_rgba(img)
    bad = good[:40] + b"\x00\x00\x00\x00" + good[44:]
    df = spark.createDataFrame(
        [("ok", bytearray(good)), ("bad", bytearray(bad))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in image_metadata(df).collect()}
    assert (out["ok"].width, out["ok"].height, out["ok"].channels) == (17, 12, 4)
    assert abs(out["ok"].mean_luma - round(float(img.mean()), 4)) < 1e-9
    assert out["ok"].decode_error is None
    assert out["bad"].decode_error is not None and out["bad"].width is None


def test_multi_region_gate_huge_n_sound(spark):
    """Above exact_limit the gate must stay SOUND: an L-shaped cloud whose
    span BOUND exceeds the threshold but whose true max pairwise distance
    does not must classify single-region (the round-2 early-True would have
    misclassified it), and a genuinely split cloud must classify multi."""
    from azure_workflow_for_kml_satellite_spark.operators.gates import is_multi_region

    # L-shape near the equator: two 2.6°-long arms (~290 km each) sharing a
    # corner → span bound ≈ 580 km > 500 km threshold, true max ≈ 410 km.
    arm = [(0.0 + 0.026 * i, 0.0) for i in range(100)] + [
        (0.0, 0.0 + 0.026 * i) for i in range(100)
    ]
    l_shape = spark.createDataFrame(arm, ["centroid_lon", "centroid_lat"])
    assert is_multi_region(l_shape, exact_limit=10) is False

    # same shape plus one far outlier → witnessed multi-region
    split = spark.createDataFrame(
        arm + [(20.0, 20.0)], ["centroid_lon", "centroid_lat"]
    )
    assert is_multi_region(split, exact_limit=10) is True

    # two tight clusters ~600 km apart along a diagonal: the global extreme
    # points witness it even when n is huge relative to exact_limit
    two = spark.createDataFrame(
        [(0.0 + 0.001 * i, 0.0) for i in range(30)]
        + [(3.8 + 0.001 * i, 3.8) for i in range(30)],
        ["centroid_lon", "centroid_lat"],
    )
    assert is_multi_region(two, exact_limit=10) is True


# ── round 3: real JPEG decode + WAV audio ────────────────────────────────────


def _wav_bytes(rate=8000, channels=1, bits=16, seconds=0.25, freq=440.0):
    import math
    import struct as s

    import numpy as np

    n = int(rate * seconds)
    t = np.arange(n) / rate
    x = np.sin(2 * math.pi * freq * t)
    if bits == 16:
        pcm = (x * 32767).astype("<i2")
    elif bits == 8:
        pcm = ((x * 127) + 128).astype("u1")
    else:
        pcm = (x * (2**31 - 1)).astype("<i4")
    if channels == 2:
        pcm = np.repeat(pcm, 2)
    body = pcm.tobytes()
    byte_rate = rate * channels * bits // 8
    fmt = s.pack("<HHIIHH", 1, channels, rate, byte_rate, channels * bits // 8, bits)
    riff = b"WAVE" + b"fmt " + s.pack("<I", len(fmt)) + fmt + b"data" + s.pack("<I", len(body)) + body
    return b"RIFF" + s.pack("<I", len(riff)) + riff, n


def test_jpeg_codec_roundtrip_all_modes():
    import numpy as np

    from media_codecs.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    yy, xx = np.mgrid[0:37, 0:61]
    img = np.stack([(yy * 3) % 256, (xx * 2) % 256, (yy + xx) % 256], axis=-1).astype(
        np.uint8
    )
    for mode in ("4:4:4", "4:2:2", "4:2:0"):
        for ri in (0, 3):
            dec = decode_jpeg(encode_jpeg(img, subsample=mode, restart_interval=ri))
            assert dec.shape == img.shape
            err = np.abs(dec.astype(int) - img.astype(int))
            assert err.mean() < 3.0 and err.max() <= 12, (mode, ri)
    # flat block is near-exact (DC-only) and deterministic
    flat = np.full((16, 16, 3), [120, 64, 200], dtype=np.uint8)
    enc = encode_jpeg(flat)
    assert enc == encode_jpeg(flat)
    assert np.abs(decode_jpeg(enc).astype(int) - flat.astype(int)).max() <= 1
    # SOF marker flipped to SOF2 on a baseline stream → the full-band SOS
    # header is invalid for a progressive frame → rejected, not garbage
    import pytest

    bad = bytearray(enc)
    i = bad.find(b"\xff\xc0")
    bad[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(bad))


def test_jpeg_progressive_matches_baseline_bit_for_bit():
    """The progressive encoder quantizes identically to the baseline one, so
    decoding its 10-scan stream (DC first/refine, banded AC first scans, AC
    refinement with EOB runs) must reproduce the baseline decode EXACTLY —
    this pins every progressive decode path against the sequential codec."""
    import numpy as np

    from media_codecs.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    cases = [
        rng.integers(0, 256, (37, 61, 3), dtype=np.uint8),  # full-range noise
        np.full((128, 256, 3), 130, dtype=np.uint8),  # long EOB runs
    ]
    yy, xx = np.mgrid[0:48, 0:80]
    cases.append(
        np.stack([(yy * 3) % 256, (xx * 2) % 256, (yy + xx) % 256], axis=-1).astype(
            np.uint8
        )
    )
    hot = cases[1].copy()
    hot[127, 255] = [255, 0, 0]  # EOB flush forced at the stream tail
    cases.append(hot)
    for img in cases:
        for mode in ("4:4:4", "4:2:2", "4:2:0"):
            for ri in (0, 5):
                base = decode_jpeg(encode_jpeg(img, subsample=mode, restart_interval=ri))
                prog = decode_jpeg(
                    encode_jpeg_progressive(img, subsample=mode, restart_interval=ri)
                )
                assert np.array_equal(base, prog), (img.shape, mode, ri)
    # grayscale input and odd (non-multiple-of-MCU) dims
    gray = np.zeros((33, 17), dtype=np.uint8)
    gray[:, 9:] = 220
    assert np.array_equal(
        decode_jpeg(encode_jpeg(gray)), decode_jpeg(encode_jpeg_progressive(gray))
    )
    # truncated / bit-flipped progressive streams quarantine, never crash
    import pytest

    enc = encode_jpeg_progressive(cases[2], subsample="4:2:0")
    with pytest.raises((ValueError, IndexError)):
        decode_jpeg(enc[: len(enc) // 2])


def test_image_metadata_real_progressive_jpeg(spark):
    import numpy as np

    from media_codecs.jpeg import (
        encode_jpeg_progressive,
    )
    from media_codecs.multimodal import (
        image_metadata,
    )

    img = np.full((20, 30, 3), 90, dtype=np.uint8)
    good = encode_jpeg_progressive(img, subsample="4:2:0")
    df = spark.createDataFrame(
        [("p", bytearray(good))], "asset_id string, payload binary"
    )
    row = image_metadata(df).collect()[0]
    assert row.decode_error is None
    assert (row.width, row.height, row.channels) == (30, 20, 3)
    assert abs(row.mean_luma - 90.0) < 2.0


def test_image_metadata_real_jpeg_decode(spark):
    import numpy as np

    from media_codecs.jpeg import encode_jpeg
    from media_codecs.multimodal import (
        image_metadata,
    )

    img = np.full((20, 30, 3), 90, dtype=np.uint8)
    good = encode_jpeg(img, subsample="4:2:0")
    df = spark.createDataFrame(
        [("a", bytearray(good)), ("b", bytearray(b"\xff\xd8truncated"))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in image_metadata(df).collect()}
    assert out["a"].decode_error is None
    assert (out["a"].width, out["a"].height, out["a"].channels) == (30, 20, 3)
    assert abs(out["a"].mean_luma - 90.0) < 2.0  # true pixel stats
    assert out["b"].decode_error is not None and out["b"].width is None


def test_audio_metadata_real_wav_parse(spark):
    from media_codecs.multimodal import (
        audio_metadata,
    )

    wav16, n16 = _wav_bytes(rate=8000, channels=1, bits=16)
    wav8st, n8 = _wav_bytes(rate=44100, channels=2, bits=8)
    df = spark.createDataFrame(
        [
            ("m16", bytearray(wav16)),
            ("s8", bytearray(wav8st)),
            ("bad", bytearray(b"ID3mp3-like-bytes")),
        ],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in audio_metadata(df).collect()}
    m = out["m16"]
    assert (m.sample_rate, m.channels, m.bits_per_sample, m.n_samples) == (8000, 1, 16, n16)
    assert m.duration_ms == 250
    # full-scale sine: RMS ~= 1/sqrt(2), peak ~= 1
    assert abs(m.rms - 0.7071) < 0.01 and 0.98 <= m.peak <= 1.0
    s = out["s8"]
    assert (s.sample_rate, s.channels, s.bits_per_sample) == (44100, 2, 8)
    assert out["bad"].decode_error is not None


def _mjpeg_avi_bytes(frames, us_per_frame=100_000):
    """Minimal RIFF/AVI container around pre-encoded JPEG frames."""
    import struct as s

    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + s.pack("<I", len(body)) + body + pad

    avih = s.pack("<IIIIIIIIII", us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, 32, 24) + b"\x00" * 16
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi_body = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    movi = chunk(b"LIST", movi_body)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + s.pack("<I", len(riff_body)) + riff_body


def test_video_frame_sample_real_mjpeg_avi(spark):
    import numpy as np

    from media_codecs.jpeg import encode_jpeg
    from media_codecs.multimodal import (
        video_frame_sample,
    )

    # 20 frames at 10 fps = 2 s of video; frame i is a flat gray i*12
    frames = [
        encode_jpeg(np.full((16, 16, 3), i * 12, dtype=np.uint8)) for i in range(20)
    ]
    avi = _mjpeg_avi_bytes(frames, us_per_frame=100_000)
    df = spark.createDataFrame([("v1", bytearray(avi))], "asset_id string, payload binary")
    rows = sorted(
        video_frame_sample(df, every_ms=500).collect(), key=lambda r: r.ts_ms
    )
    # 2 s / 500 ms → samples at 0, 500, 1000, 1500 (ts 2000 is past the end)
    assert [r.ts_ms for r in rows] == [0, 500, 1000, 1500]
    assert [r.frame_index for r in rows] == [0, 5, 10, 15]
    # flat frames → all-zero average-hash, and distinct frames really decoded
    # (sanity: phash of a flat image is 0 because no pixel exceeds the mean)
    assert all(r.frame_phash == 0 for r in rows)

    # gradient frames give nonzero, frame-dependent hashes
    yy, xx = np.mgrid[0:16, 0:16]
    gframes = [
        encode_jpeg(((yy * (i + 1) * 16 + xx) % 256).astype(np.uint8))
        for i in range(4)
    ]
    avi2 = _mjpeg_avi_bytes(gframes, us_per_frame=250_000)
    df2 = spark.createDataFrame([("v2", bytearray(avi2))], "asset_id string, payload binary")
    rows2 = sorted(
        video_frame_sample(df2, every_ms=250).collect(), key=lambda r: r.ts_ms
    )
    assert [r.frame_index for r in rows2] == [0, 1, 2, 3]
    assert len({r.frame_phash for r in rows2}) > 1

    # non-AVI payloads keep the documented stand-in path (no exception)
    df3 = spark.createDataFrame(
        [("v3", bytearray(b"\x00\x00\x00 ftypisom-fake-mp4"))],
        "asset_id string, payload binary",
    )
    assert video_frame_sample(df3).count() >= 1


def test_streaming_dedup_evicts_state_and_reemits_late_duplicate(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics: duplicates inside the
    watermark window are dropped, and a duplicate arriving AFTER the
    watermark passed the original re-emits (state was evicted — the bounded
    state/completeness trade the docstring documents; plain dropDuplicates
    on a non-event-time subset would keep state forever and never re-emit)."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_workflow_for_kml_satellite_spark.streaming.pipelines import (
        run_stream_to_memory,
        streaming_exact_dedup,
    )

    src = tmp_path / "docs_in"
    src.mkdir()

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "text": [r[2] for r in rows],
                }
            ),
            src / name,
        )

    # batch 1: original + in-window duplicate (watermark = 1 hour)
    write("b1.parquet", [(0, datetime(2024, 1, 1, 0, 0), "aa"),
                         (1, datetime(2024, 1, 1, 0, 30), "aa")])
    q = run_stream_to_memory(
        streaming_exact_dedup(spark, str(src), watermark="1 hour"),
        "dedup_wm", mode="append",
    )
    try:
        # batch 2: advance event time far past aa's watermark horizon
        write("b2.parquet", [(2, datetime(2024, 1, 1, 6, 0), "bb")])
        q.processAllAvailable()
        # batch 3: duplicate of aa arrives after eviction → re-emits
        write("b3.parquet", [(3, datetime(2024, 1, 1, 6, 1), "aa")])
        q.processAllAvailable()
        ids = sorted(r.doc_id for r in spark.sql("select doc_id from dedup_wm").collect())
    finally:
        q.stop()
    # 0 kept, 1 dropped (in-window dup), 2 kept, 3 re-emitted after eviction
    assert ids == [0, 2, 3]


def test_video_frame_sample_quarantines_corrupt_avi(spark):
    from media_codecs.multimodal import (
        video_frame_sample,
    )

    # RIFF/AVI magic but garbage body → per-asset quarantine row, no task kill
    bad = b"RIFF\x20\x00\x00\x00AVI " + b"\x01\x02\x03\x04" * 8
    df = spark.createDataFrame([("vx", bytearray(bad))], "asset_id string, payload binary")
    rows = video_frame_sample(df).collect()
    assert len(rows) == 1 and rows[0].decode_error is not None
    assert rows[0].frame_index is None


# ── round 3: spatial kNN join ────────────────────────────────────────────────


def _brute_knn(points, cands, k):
    import math

    def hav(lon1, lat1, lon2, lat2):
        dlat = math.radians(lat2 - lat1)
        dlon = math.radians(lon2 - lon1)
        a = (
            math.sin(dlat / 2) ** 2
            + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)) * math.sin(dlon / 2) ** 2
        )
        return 2 * 6371.0 * math.atan2(math.sqrt(a), math.sqrt(1 - a))

    out = []
    for pid, plon, plat in points:
        ds = sorted(
            ((hav(plon, plat, clon, clat), cid) for cid, clon, clat in cands)
        )
        for r, (d, cid) in enumerate(ds[:k], 1):
            out.append((pid, cid, round(d, 6), r))
    return sorted(out)


def test_knn_join_paths_agree_and_match_bruteforce(spark):
    """The broadcast kNN join must equal a pure-python brute force, row for
    row — including high-latitude points (longitude shrink) and a lone
    point whose nearest candidates are thousands of km away."""
    import random as rnd

    from azure_workflow_for_kml_satellite_spark.operators.knn import knn_join_broadcast

    rng = rnd.Random(13)
    # clustered candidates + a sparse far region + polar candidates
    cands = [(f"g{i:03d}", rng.uniform(-10, 10), rng.uniform(-10, 10)) for i in range(40)]
    cands += [(f"p{i}", rng.uniform(-180, 180), rng.uniform(80, 85)) for i in range(5)]
    cands += [("lone", 120.0, -45.0)]
    points = [(i, rng.uniform(-12, 12), rng.uniform(-12, 12)) for i in range(30)]
    points += [(100, 118.0, -44.0)]        # nearest set is far away
    points += [(101, 10.0, 83.0)]          # high latitude
    pdf = spark.createDataFrame(points, "pid long, centroid_lon double, centroid_lat double")
    cdf = spark.createDataFrame(cands, "station_id string, longitude double, latitude double")
    exact = sorted(map(tuple, knn_join_broadcast(pdf, cdf, k=3, point_keys=("pid",)).collect()))
    assert exact == _brute_knn(points, cands, 3)


def test_knn_join_cells_fallback_when_fewer_than_k(spark):
    """Fewer candidates than k: every point gets all of them, ranked, as
    the brute force does."""
    from azure_workflow_for_kml_satellite_spark.operators.knn import knn_join_broadcast

    points = [(0, 0.0, 0.0), (1, 90.0, 40.0)]
    cands = [("a", 1.0, 1.0), ("b", -179.0, -80.0)]
    pdf = spark.createDataFrame(points, "pid long, centroid_lon double, centroid_lat double")
    cdf = spark.createDataFrame(cands, "station_id string, longitude double, latitude double")
    exact = sorted(map(tuple, knn_join_broadcast(pdf, cdf, k=5, point_keys=("pid",)).collect()))
    # only 2 candidates exist → 2 rows per point, equal to the brute force
    assert len(exact) == 4 and exact == _brute_knn(points, cands, 5)


def test_knn_join_cells_antimeridian_wrap(spark):
    """A point at lon +179.9 whose true nearest candidate sits at −179.9
    (0.2° away across the antimeridian, but 359.8° apart in raw longitude):
    the broadcast join must rank it first and equal the brute force."""
    from azure_workflow_for_kml_satellite_spark.operators.knn import knn_join_broadcast

    points = [(0, 179.9, 10.0)]
    cands = [("near_wrap", -179.9, 10.0), ("mid", 170.0, 10.0), ("far", 100.0, 10.0)]
    pdf = spark.createDataFrame(points, "pid long, centroid_lon double, centroid_lat double")
    cdf = spark.createDataFrame(cands, "station_id string, longitude double, latitude double")
    exact = sorted(map(tuple, knn_join_broadcast(pdf, cdf, k=2, point_keys=("pid",)).collect()))
    assert exact == _brute_knn(points, cands, 2)
    # the wrap candidate is rank 1 (≈22 km), 'mid' is rank 2 (≈1089 km)
    by_rank = {r[3]: r[1] for r in exact}
    assert by_rank == {1: "near_wrap", 2: "mid"}


def test_knn_join_cells_near_pole_no_false_settle(spark):
    """Near the pole a candidate 180° away in longitude ('overpole') sits a
    mere ~22 m across the pole — closer than the candidate at the same
    longitude (~100 m): the broadcast join must return 'overpole' as the
    top-1 and equal the brute force."""
    from azure_workflow_for_kml_satellite_spark.operators.knn import knn_join_broadcast

    points = [(0, 0.0, 89.9999)]
    cands = [("inring", 0.0, 89.999), ("overpole", 180.0, 89.9999)]
    pdf = spark.createDataFrame(points, "pid long, centroid_lon double, centroid_lat double")
    cdf = spark.createDataFrame(cands, "station_id string, longitude double, latitude double")
    exact = sorted(map(tuple, knn_join_broadcast(pdf, cdf, k=1, point_keys=("pid",)).collect()))
    assert exact == _brute_knn(points, cands, 1)
    assert exact[0][1] == "overpole" and exact[0][2] < 0.1


def _mp4_bytes(frames, delta_ms=100, codec=b"jpeg", chunk_size=3, timescale=1000):
    """Minimal valid ISO-BMFF file: ftyp + mdat + moov with one video trak
    whose stts/stsc/stsz/stco tables describe ``frames`` (multi-chunk, so
    the stsc run expansion is exercised)."""
    import struct as s

    def box(t, payload):
        return s.pack(">I", len(payload) + 8) + t + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat = box(b"mdat", b"".join(frames))
    base = len(ftyp) + 8
    sizes = [len(f) for f in frames]
    chunks = [sizes[i : i + chunk_size] for i in range(0, len(sizes), chunk_size)]
    offs, cur = [], base
    for ch in chunks:
        offs.append(cur)
        cur += sum(ch)
    entry = s.pack(">I4s", 16, codec) + b"\x00" * 6 + s.pack(">H", 1)
    stsd = box(b"stsd", b"\x00" * 4 + s.pack(">I", 1) + entry)
    stts = box(b"stts", b"\x00" * 4 + s.pack(">III", 1, len(frames), delta_ms))
    runs = [(1, chunk_size)]
    if len(chunks) > 1 and len(chunks[-1]) != chunk_size:
        runs.append((len(chunks), len(chunks[-1])))
    stsc = box(
        b"stsc",
        b"\x00" * 4
        + s.pack(">I", len(runs))
        + b"".join(s.pack(">III", fc, spc, 1) for fc, spc in runs),
    )
    stsz = box(
        b"stsz",
        b"\x00" * 4
        + s.pack(">II", 0, len(frames))
        + b"".join(s.pack(">I", sz) for sz in sizes),
    )
    stco = box(
        b"stco",
        b"\x00" * 4 + s.pack(">I", len(offs)) + b"".join(s.pack(">I", o) for o in offs),
    )
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    mdhd = box(
        b"mdhd",
        b"\x00" * 4 + s.pack(">IIII", 0, 0, timescale, len(frames) * delta_ms) + b"\x00" * 4,
    )
    mdia = box(b"mdia", mdhd + hdlr + minf)
    return ftyp + mdat + box(b"moov", box(b"trak", mdia))


def test_video_frame_sample_real_mp4(spark):
    import numpy as np

    from media_codecs.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from media_codecs.multimodal import (
        _phash,
        video_frame_sample,
    )

    frames = [
        encode_jpeg(np.full((16, 16, 3), i * 12, dtype=np.uint8)) for i in range(20)
    ]
    mp4 = _mp4_bytes(frames, delta_ms=100)  # 2 s of 10 fps MJPEG-in-MP4
    avc = _mp4_bytes([b"\x00\x00\x01\x65" + bytes(40)] * 20, delta_ms=100, codec=b"avc1")
    df = spark.createDataFrame(
        [
            ("mj", bytearray(mp4)),
            ("h264", bytearray(avc)),
            ("bad", bytearray(b"\x00\x00\x00\x08ftyp" + b"no-moov-here")),
        ],
        "asset_id string, payload binary",
    )
    out = video_frame_sample(df, every_ms=500).toPandas()
    mj = out[out.asset_id == "mj"].sort_values("ts_ms")
    # 2000 ms / 500 ms → 4 instants, frame = last sample at/before instant
    assert list(mj.ts_ms) == [0, 500, 1000, 1500]
    assert list(mj.frame_index) == [0, 5, 10, 15]
    assert mj.decode_error.isna().all()
    # phash is the TRUE pixel hash of the demuxed sample
    expected = _phash(np.repeat(decode_jpeg(frames[5]), 1, axis=2))
    assert int(mj.iloc[1].frame_phash) == expected
    h264 = out[out.asset_id == "h264"]
    # real demux timing, honest per-row "codec not decodable" marker
    assert list(h264.sort_values("ts_ms").ts_ms) == [0, 500, 1000, 1500]
    assert h264.decode_error.str.contains("avc1").all()
    bad = out[out.asset_id == "bad"]
    assert len(bad) == 1 and "MP4" in bad.iloc[0].decode_error


def test_audio_metadata_real_mp3_ogg(spark):
    import struct as s

    from media_codecs.multimodal import (
        audio_metadata,
    )

    # MPEG1 Layer III, 128 kbit/s @ 44100, stereo, ID3v2 tag + ID3v1 tail
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    flen = 144 * 128000 // 44100
    mp3 = b"ID3" + bytes([3, 0, 0]) + bytes([0, 0, 0, 20]) + b"\x00" * 20
    mp3 += (hdr + b"\x00" * (flen - 4)) * 10 + b"TAG" + b"\x00" * 125

    def crc_ref(buf):
        # independent bitwise RFC 3533 CRC (poly 0x04C11DB7, unreflected) —
        # NOT the production table implementation, so the page-CRC check is
        # differentially tested, not round-tripped through one codebase
        crc = 0
        for byte in buf:
            crc ^= byte << 24
            for _ in range(8):
                crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000 else crc << 1) & 0xFFFFFFFF
        return crc

    def ogg_page(granule, pkts, seq):
        lac = []
        for p in pkts:
            lac += [255] * (len(p) // 255) + [len(p) % 255]
        page = bytearray(
            b"OggS"
            + bytes([0, 2 if seq == 0 else 0])
            + s.pack("<q", granule)
            + s.pack("<II", 1, seq)
            + b"\x00" * 4
            + bytes([len(lac)])
            + bytes(lac)
            + b"".join(pkts)
        )
        page[22:26] = s.pack("<I", crc_ref(bytes(page)))
        return bytes(page)

    vorbis_ident = (
        b"\x01vorbis" + s.pack("<I", 0) + bytes([2]) + s.pack("<I", 44100)
        + s.pack("<iii", 0, 0, 0) + bytes([0x88, 0x01])  # blocksizes 256/256, framing
    )
    vorbis_comment = (
        b"\x03vorbis" + s.pack("<I", 4) + b"test"
        + s.pack("<I", 1) + s.pack("<I", 3) + b"A=B" + b"\x01"
    )
    ogg = (
        ogg_page(0, [vorbis_ident], 0)
        + ogg_page(22050, [vorbis_comment, b"\x05" * 300], 1)
    )
    opus_head = (
        b"OpusHead" + bytes([1, 2]) + s.pack("<H", 312)
        + s.pack("<I", 48000) + s.pack("<h", 0) + bytes([0])
    )
    opus_tags = b"OpusTags" + s.pack("<I", 4) + b"test" + s.pack("<I", 0)
    # 50 CELT-FB 20 ms packets (TOC 0xF8) = 48000 samples; granule counts
    # pre-skip too, and n_samples must subtract it back out
    opus = (
        ogg_page(0, [opus_head], 0)
        + ogg_page(48312, [opus_tags] + [b"\xf8\x00\x00"] * 50, 1)
    )
    df = spark.createDataFrame(
        [
            ("mp3", bytearray(mp3)),
            ("ogg", bytearray(ogg)),
            ("opus", bytearray(opus)),
            ("bad", bytearray(b"fLaC-is-not-parsed-here")),
        ],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in audio_metadata(df).collect()}
    m = out["mp3"]
    assert m.decode_error is None
    assert (m.sample_rate, m.channels, m.n_samples) == (44100, 2, 10 * 1152)
    assert m.duration_ms == round(1000 * 10 * 1152 / 44100)
    # round 6: all-zero Layer III payloads are VALID silent frames and now
    # really decode (media_codecs/mp3.py) — rms is real 0.0, no longer null
    assert m.rms == 0.0 and m.peak == 0.0 and m.bits_per_sample is None
    v = out["ogg"]
    assert (v.sample_rate, v.channels, v.n_samples, v.duration_ms) == (44100, 2, 22050, 500)
    o = out["opus"]
    assert (o.sample_rate, o.channels, o.n_samples, o.duration_ms) == (48000, 2, 48000, 1000)
    assert out["bad"].decode_error is not None


def _mkv_bytes(frames, delta_ms=100, codec=b"V_MJPEG", timescale=1_000_000,
               codec_private=None):
    """Minimal valid Matroska file: EBML header + Segment(Info, Tracks,
    two Clusters of no-lacing SimpleBlocks) — exercises vint sizes,
    TimestampScale, cluster-relative timestamps."""
    import struct as s

    def vint_size(v):
        for ln in range(1, 9):
            if v < (1 << (7 * ln)) - 1:
                return (v | (1 << (7 * ln))).to_bytes(ln, "big")
        raise ValueError(v)

    def elem(eid, payload):
        return eid + vint_size(len(payload)) + payload

    def uint(v):
        return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")

    ebml = elem(b"\x1a\x45\xdf\xa3", elem(b"\x42\x86", b"\x01"))
    info = elem(
        b"\x15\x49\xa9\x66",
        elem(b"\x2a\xd7\xb1", uint(timescale))
        + elem(b"\x44\x89", s.pack(">d", len(frames) * delta_ms)),
    )
    track_body = elem(b"\xd7", uint(1)) + elem(b"\x83", uint(1)) + elem(b"\x86", codec)
    if codec_private is not None:
        track_body += elem(b"\x63\xa2", codec_private)
    track = elem(b"\xae", track_body)
    tracks = elem(b"\x16\x54\xae\x6b", track)
    clusters = b""
    half = len(frames) // 2
    for ci, chunk in enumerate((frames[:half], frames[half:])):
        body = elem(b"\xe7", uint(ci * half * delta_ms))
        for i, f in enumerate(chunk):
            body += elem(b"\xa3", b"\x81" + s.pack(">h", i * delta_ms) + b"\x80" + f)
        clusters += elem(b"\x1f\x43\xb6\x75", body)
    return ebml + elem(b"\x18\x53\x80\x67", info + tracks + clusters)


def test_video_frame_sample_real_mkv(spark):
    import numpy as np

    from media_codecs.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from media_codecs.multimodal import (
        _phash,
        video_frame_sample,
    )

    frames = [
        encode_jpeg(np.full((16, 16, 3), i * 12, dtype=np.uint8)) for i in range(20)
    ]
    mkv = _mkv_bytes(frames, delta_ms=100)  # 2 s of 10 fps MJPEG-in-Matroska
    mpeg4 = _mkv_bytes([bytes(40)] * 20, delta_ms=100, codec=b"V_MPEG4/ISO/AVC")
    df = spark.createDataFrame(
        [
            ("mj", bytearray(mkv)),
            ("avc", bytearray(mpeg4)),
            ("bad", bytearray(b"\x1a\x45\xdf\xa3" + b"\x00garbage")),
        ],
        "asset_id string, payload binary",
    )
    out = video_frame_sample(df, every_ms=500).toPandas()
    mj = out[out.asset_id == "mj"].sort_values("ts_ms")
    assert list(mj.ts_ms) == [0, 500, 1000, 1500]
    assert list(mj.frame_index) == [0, 5, 10, 15]
    assert mj.decode_error.isna().all()
    assert int(mj.iloc[2].frame_phash) == _phash(decode_jpeg(frames[10]))
    avc = out[out.asset_id == "avc"]
    assert list(avc.sort_values("ts_ms").ts_ms) == [0, 500, 1000, 1500]
    assert avc.decode_error.str.contains("V_MPEG4").all()
    bad = out[out.asset_id == "bad"]
    assert len(bad) == 1 and "Matroska" in bad.iloc[0].decode_error


def test_audio_metadata_real_flac(spark):
    import struct as s

    from media_codecs.multimodal import (
        audio_metadata,
    )

    packed = (44100 << 44) | (1 << 41) | (15 << 36) | 88200
    streaminfo = b"\x00" * 10 + s.pack(">Q", packed) + b"\x00" * 16
    flac = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    df = spark.createDataFrame(
        [("f", bytearray(flac)), ("bad", bytearray(b"fLaC\x7f\x00\x00\x02xy"))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in audio_metadata(df).collect()}
    f = out["f"]
    assert f.decode_error is None
    assert (f.sample_rate, f.channels, f.bits_per_sample) == (44100, 2, 16)
    assert (f.n_samples, f.duration_ms) == (88200, 2000)
    assert f.rms is None  # compressed frames not decoded — stats stay null
    assert out["bad"].decode_error is not None


def test_image_metadata_real_gif_and_png_variants(spark):
    import struct as s
    import zlib

    import numpy as np

    from media_codecs.gif import encode_gif
    from media_codecs.multimodal import (
        image_metadata,
    )

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (24, 30), dtype=np.uint8)
    gif = encode_gif([idx], pal)

    def chunk(tag, data):
        c = tag + data
        return s.pack(">I", len(data)) + c + s.pack(">I", zlib.crc32(c))

    # grayscale 8-bit PNG — outside decode_png's RGB/RGBA tile envelope,
    # decoded for real by decode_png_any
    g = rng.integers(0, 256, (9, 14), dtype=np.uint8)
    ihdr = s.pack(">IIBBBBB", 14, 9, 8, 0, 0, 0, 0)
    rows = b"".join(b"\x00" + g[r].tobytes() for r in range(9))
    gray_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(rows))
        + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame(
        [("gif", bytearray(gif)), ("gray", bytearray(gray_png))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in image_metadata(df).collect()}
    gr = out["gif"]
    assert gr.decode_error is None and (gr.width, gr.height, gr.channels) == (30, 24, 3)
    assert abs(gr.mean_luma - float(pal[idx].mean())) < 0.01  # true pixels
    assert (out["gray"].width, out["gray"].height, out["gray"].channels) == (14, 9, 1)
    assert abs(out["gray"].mean_luma - float(g.mean())) < 0.01


def test_video_frame_sample_animated_gif(spark):
    import numpy as np

    from media_codecs.gif import (
        decode_gif_frames,
        encode_gif,
    )
    from media_codecs.multimodal import (
        _phash,
        video_frame_sample,
    )

    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    frames = [np.full((12, 12), i % 4, dtype=np.uint8) for i in range(8)]
    gif = encode_gif(frames, pal, delays_ms=[250] * 8)  # 2 s animation
    df = spark.createDataFrame(
        [("anim", bytearray(gif)), ("bad", bytearray(b"GIF89a\x00\x00"))],
        "asset_id string, payload binary",
    )
    out = video_frame_sample(df, every_ms=500).toPandas()
    anim = out[out.asset_id == "anim"].sort_values("ts_ms")
    assert list(anim.ts_ms) == [0, 500, 1000, 1500]
    assert list(anim.frame_index) == [0, 2, 4, 6]
    assert anim.decode_error.isna().all()
    _, _, composed = decode_gif_frames(gif)
    assert int(anim.iloc[1].frame_phash) == _phash(composed[2][1][..., :3])
    bad = out[out.asset_id == "bad"]
    assert len(bad) == 1 and "GIF" in bad.iloc[0].decode_error


def test_video_frame_sample_no_partial_rows_on_mid_decode_failure(spark):
    """A container whose LATER frame is corrupt must yield exactly one
    quarantine row — never partial success rows beside an error row."""
    import numpy as np

    from media_codecs.jpeg import encode_jpeg
    from media_codecs.multimodal import (
        video_frame_sample,
    )

    good = [encode_jpeg(np.full((8, 8, 3), i * 20, dtype=np.uint8)) for i in range(3)]
    frames = good[:2] + [b"\xff\xd8corrupt-jpeg"]  # last sampled frame broken
    mp4 = _mp4_bytes(frames, delta_ms=500)  # instants 0/500/1000 hit frame 2
    out = video_frame_sample(
        spark.createDataFrame(
            [("a", bytearray(mp4))], "asset_id string, payload binary"
        ),
        every_ms=500,
    ).toPandas()
    assert len(out) == 1
    assert out.iloc[0].frame_index is None or pd.isna(out.iloc[0].frame_index)
    assert "corrupt MP4 payload" in out.iloc[0].decode_error



def test_jpeg_12bit_extended_sequential_decodes():
    """12-bit (SOF1 precision 12) frames decode at full precision and
    render to uint8: smooth fields reproduce within 1/255, hard DC swings
    hit the high DC categories exactly, and both 8-bit and 16-bit DQT
    encodings of the same image agree."""
    import numpy as np

    from media_codecs import jpeg as J

    yy, xx = np.mgrid[0:40, 0:56]
    img12 = (2048 + 1800 * np.sin(xx / 9.0) * np.cos(yy / 7.0)).astype(np.uint16)
    ref = np.rint(img12.astype(np.float64) * 255.0 / 4095.0)
    outs = []
    for q16 in (False, True):
        dec = J.decode_jpeg(J.encode_jpeg12_gray(img12, quant=16, quant16=q16))
        assert dec.shape == (40, 56, 1)
        assert np.abs(dec[..., 0].astype(np.float64) - ref).max() <= 1.0
        outs.append(dec)
    # the 16-bit DQT run quantizes the last 8 zigzag coefficients harder,
    # but the smooth field has no energy there — identical output
    assert (outs[0] == outs[1]).all()
    # extreme DC swings (max 12-bit categories) survive exactly
    blocks = np.zeros((16, 16), dtype=np.uint16)
    blocks[:8, 8:] = 4095
    blocks[8:, :8] = 4095
    dec = J.decode_jpeg(J.encode_jpeg12_gray(blocks, quant=1))
    assert dec[0, 0, 0] == 0 and dec[0, 15, 0] == 255
    assert dec[15, 0, 0] == 255 and dec[15, 15, 0] == 0
    # 8-bit frames still reject nothing new; truncated 12-bit quarantines
    import pytest

    with pytest.raises(ValueError):
        J.decode_jpeg(J.encode_jpeg12_gray(img12)[:40])


def test_cluster_star_matches_propagation_and_handles_long_chains(spark):
    """cluster_aois must produce the labelling of a pure-Python union-find
    over the Python-haversine pairs within eps, including a 120-AOI chain
    (diameter 119), and must raise when its round budget is too small."""
    from azure_workflow_for_kml_satellite_spark.operators.cluster import cluster_aois
    from azure_workflow_for_kml_satellite_spark.functions.geometry import haversine_km
    from tests.test_dedup_scale_ops import _union_find_min_labels

    # chain of points spaced just under eps (0.5 km) plus isolated points
    rows = []
    for i in range(120):
        rows.append((f"u{i:03d}", 0, f"u{i:03d}:0", 10.0 + i * 0.004, 0.0))
    for i in range(5):
        rows.append((f"iso{i}", 0, f"iso{i}:0", -40.0 + 5 * i, 30.0))
    df = spark.createDataFrame(
        rows, "url string, feature_index long, dedup_key string, "
        "centroid_lon double, centroid_lat double"
    )

    keys = [r[2] for r in rows]
    near = [
        (p[2], q[2])
        for i, p in enumerate(rows)
        for q in rows[i + 1:]
        if haversine_km(p[3], p[4], q[3], q[4]) <= 0.5
    ]
    expected = _union_find_min_labels(keys, near)
    star = {(r.url, r.feature_index): r.cluster_key
            for r in cluster_aois(df, eps_km=0.5).collect()}
    assert star == {(r[0], r[1]): expected[r[2]] for r in rows}
    # whole chain is one component rooted at the min key
    assert star[("u000", 0)] == "u000:0" and star[("u119", 0)] == "u000:0"
    assert star[("iso3", 0)] == "iso3:0"
    # the contraction REFUSES to return wrong labels when its round budget
    # is too small for the chain
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster_aois(df, eps_km=0.5, max_rounds=1)


def test_image_thumbnails_resize_op(spark):
    """The training-data resize op: bilinear math pinned analytically on a
    linear gradient (bilinear reproduces a linear field exactly), PNG
    round-trip, aspect preservation, no upscaling, WebP input, and per-row
    quarantine."""
    import numpy as np

    from azure_workflow_for_kml_satellite_spark.functions.png import encode_png_rgba
    from media_codecs.png_any import decode_png_any
    from media_codecs.vp8l import (
        encode_webp_lossless,
    )
    from media_codecs.multimodal import (
        _resize_bilinear_u8,
        image_thumbnails,
    )

    # analytic check: a horizontal linear ramp stays linear under bilinear
    ramp = np.tile(np.linspace(0, 255, 128).astype(np.uint8), (32, 1))[..., None]
    small = _resize_bilinear_u8(ramp, 8, 32)
    fx = np.clip((np.arange(32) + 0.5) * (128 / 32) - 0.5, 0, 127)
    expect = np.rint(fx * (255.0 / 127.0))
    assert np.abs(small[0, :, 0].astype(np.float64) - expect).max() <= 1.0
    assert (small == small[0:1]).all()  # rows identical (no vertical mixing)

    rng = np.random.default_rng(21)
    big = rng.integers(0, 256, (96, 48, 4), dtype=np.uint8)
    png = encode_png_rgba(big)
    webp = encode_webp_lossless(big)
    tiny = encode_png_rgba(rng.integers(0, 256, (10, 10, 4), dtype=np.uint8))
    df = spark.createDataFrame(
        [
            ("png", bytearray(png)),
            ("webp", bytearray(webp)),
            ("tiny", bytearray(tiny)),
            ("bad", bytearray(b"\x89PNG\r\n\x1a\nbroken")),
        ],
        "asset_id string, payload binary",
    )
    rows = {r.asset_id: r for r in image_thumbnails(df, max_side=32).collect()}
    for key in ("png", "webp"):
        r = rows[key]
        assert r.decode_error is None
        assert (r.width, r.height) == (48, 96)
        assert (r.thumb_width, r.thumb_height) == (16, 32)  # aspect kept
        timg, _bpp = decode_png_any(bytes(r.thumbnail_png))
        assert timg.shape == (32, 16, 4)
    # identical source pixels → identical thumbnails regardless of container
    assert bytes(rows["png"].thumbnail_png) == bytes(rows["webp"].thumbnail_png)
    assert (rows["tiny"].thumb_width, rows["tiny"].thumb_height) == (10, 10)  # no upscale
    assert rows["bad"].decode_error is not None and rows["bad"].thumbnail_png is None


def test_streaming_sessionize_matches_batch_on_events_table(spark, tmp_path):
    """Differential gate for the stateful streaming sessionizer: on the
    driver's real events table (with a far-future sentinel per user so
    every real session closes), the emitted (user, n_events, duration)
    multiset must equal the batch window-function sessionization's."""
    from pyspark.sql import Window

    from azure_workflow_for_kml_satellite_spark.streaming.pipelines import (
        run_stream_to_memory,
        streaming_sessionize,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    src = tmp_path / "sess_diff"
    src.mkdir()
    ev.write.parquet(str(src / "p1"))
    sentinel = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mx"))
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mx") + F.expr("INTERVAL 400 DAYS")).alias("ts"),
            "user_id",
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        )
    )
    sentinel.write.parquet(str(src / "p2"))

    q = run_stream_to_memory(
        streaming_sessionize(spark, str(src) + "/*", gap_s=1800),
        "sess_diff_stream",
        mode="append",
    )
    try:
        got = spark.sql(
            "select user_id, n_events, "
            "cast(session_end as long) - cast(session_start as long) as duration_s "
            "from sess_diff_stream"
        ).collect()
    finally:
        q.stop()

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    batch = (
        ev.withColumn("new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(F.count("*").alias("n_events"), (F.max(epoch) - F.min(epoch)).alias("duration_s"))
        .collect()
    )
    got_ms = sorted((r.user_id, r.n_events, r.duration_s) for r in got)
    batch_ms = sorted((r.user_id, r.n_events, r.duration_s) for r in batch)
    assert len(batch_ms) > 50  # real data, not a toy
    assert got_ms == batch_ms


def test_image_thumbnails_gray_alpha_quarantine_not_crash(spark):
    """Gray+alpha (PNG colour type 4) payloads must thumbnail per-row, not
    crash the mapInPandas task: the 2-channel decode path repeats the gray
    channel to RGB and carries channel 1 as alpha (round-5 ADVICE fix)."""
    import struct
    import zlib

    import numpy as np

    from azure_workflow_for_kml_satellite_spark.functions.png import encode_png_rgba
    from media_codecs.png_any import decode_png_any
    from media_codecs.multimodal import (
        image_thumbnails,
    )

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    rng = np.random.default_rng(5)
    ga = rng.integers(0, 256, (40, 24, 2), dtype=np.uint8)
    raw = b"".join(b"\x00" + ga[r].tobytes() for r in range(40))
    png_ga = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 24, 40, 8, 4, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    # sanity: the decoder really yields a 2-channel array for this payload
    img, _ = decode_png_any(png_ga)
    assert img.shape == (40, 24, 2)

    df = spark.createDataFrame(
        [
            ("ga", bytearray(png_ga)),
            ("rgba", bytearray(encode_png_rgba(ga.repeat(2, axis=2)))),
        ],
        "asset_id string, payload binary",
    )
    rows = {r.asset_id: r for r in image_thumbnails(df, max_side=16).collect()}
    r = rows["ga"]
    assert r.decode_error is None and r.thumbnail_png is not None
    assert (r.thumb_width, r.thumb_height) == (10, 16)
    timg, _ = decode_png_any(bytes(r.thumbnail_png))
    assert timg.shape == (16, 10, 4)
    # gray channel replicated to RGB, channel 1 carried as alpha
    assert (timg[..., 0] == timg[..., 1]).all() and (timg[..., 1] == timg[..., 2]).all()
    assert rows["rgba"].decode_error is None  # normal 4-channel path unaffected


def test_gif_anim_disposal_methods_composite():
    """encode_gif_anim → decode_gif_frames: per-frame composites asserted
    analytically for disposal 1 (leave), 2 (restore-background) and 3
    (restore-previous), frame offsets and transparency — the GIF twin of
    test_animated_webp_demux_and_compositing."""
    import numpy as np

    from media_codecs.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif_anim,
    )

    pal = np.array(
        [[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]], dtype=np.uint8
    )
    gif = encode_gif_anim(
        (8, 8),
        pal,
        [
            {"indices": np.full((8, 8), 1, np.uint8), "disposal": 1},
            {
                "indices": np.full((4, 4), 2, np.uint8),
                "left": 2,
                "top": 2,
                "disposal": 2,  # rect restored to (transparent) background
            },
            {
                "indices": np.array([[3, 2], [2, 3]], np.uint8),
                "transparent": 3,
                "disposal": 3,  # whole canvas restored to pre-frame state
            },
            {"indices": np.full((1, 1), 0, np.uint8), "left": 7, "top": 7},
        ],
    )
    w, h, frames = decode_gif_frames(gif)
    assert (w, h) == (8, 8) and len(frames) == 4
    c0, c1, c2, c3 = (f for _, f in frames)
    assert (c0[..., :3] == pal[1]).all() and (c0[..., 3] == 255).all()
    assert (c1[2:6, 2:6, :3] == pal[2]).all()
    assert (c1[0, 0, :3] == pal[1]).all()
    # after f1: disposal 2 wiped its rect; f2 drew at (0,0) with index 3
    # transparent — those pixels keep the underlying frame-0 color
    assert (c2[3, 3] == 0).all()  # restored-background hole, alpha 0
    assert tuple(c2[0, 1, :3]) == tuple(pal[2]) and c2[0, 1, 3] == 255
    assert tuple(c2[0, 0, :3]) == tuple(pal[1])  # transparent idx: underlying
    # f2's disposal 3 restored the pre-f2 canvas before f3 drew one pixel
    assert tuple(c3[0, 1, :3]) == tuple(pal[1])
    assert tuple(c3[7, 7, :3]) == tuple(pal[0])
    assert (c3[3, 3] == 0).all()  # the disposal-2 hole persists
    # decode_gif = first composite; fully opaque → RGB path
    first = decode_gif(gif)
    assert first.shape == (8, 8, 3) and (first == pal[1]).all()


def test_synth_animated_assets_first_frame_composite():
    """The images.parquet animated assets: the engine's decoders must
    composite the first frame to EXACTLY synth.image_pixels(i) — the same
    invariant the byte-oracled q_image_thumbnails gate rides on, pinned
    here at the pixel level (including the subrect-RGBA gif path)."""
    import numpy as np

    from media_codecs.gif import (
        decode_gif,
        encode_gif_anim,
    )
    from media_codecs.webimage import decode_webp
    from media_codecs import synth_media as synth

    seen_rgb = seen_rgba = False
    for i in range(synth.IMAGE_COUNT):
        kind = synth.image_kind(i)
        h, w = synth._image_dims(i)
        want = synth.image_pixels(i)
        if kind == "gif_anim":
            pal, frames = synth._gif_anim_parts(i, h, w)
            got = decode_gif(encode_gif_anim((w, h), pal, frames))
            assert got.shape == want.shape and (got == want).all(), i
            seen_rgb |= want.shape[2] == 3
            seen_rgba |= want.shape[2] == 4
        elif kind == "webp_anim":
            got = decode_webp(
                synth._mux_webp_anim(w, h, synth._webp_anim_frames(i, h, w))
            )
            assert got.shape == want.shape and (got == want).all(), i
    assert seen_rgb and seen_rgba  # both gif composite paths exercised


def _ogg_fixture_tools():
    import struct as s

    def crc_ref(buf):
        crc = 0
        for byte in buf:
            crc ^= byte << 24
            for _ in range(8):
                crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000 else crc << 1) & 0xFFFFFFFF
        return crc

    def page(granule, pkts, seq, corrupt_crc=False):
        lac = []
        for p in pkts:
            lac += [255] * (len(p) // 255) + [len(p) % 255]
        pg = bytearray(
            b"OggS" + bytes([0, 2 if seq == 0 else 0]) + s.pack("<q", granule)
            + s.pack("<II", 1, seq) + b"\x00" * 4
            + bytes([len(lac)]) + bytes(lac) + b"".join(pkts)
        )
        pg[22:26] = s.pack("<I", crc_ref(bytes(pg)) ^ (0xDEAD if corrupt_crc else 0))
        return bytes(pg)

    ident = (
        b"\x01vorbis" + s.pack("<I", 0) + bytes([2]) + s.pack("<I", 44100)
        + s.pack("<iii", 0, 0, 0) + bytes([0x88, 0x01])
    )
    comment = (
        b"\x03vorbis" + s.pack("<I", 4) + b"test"
        + s.pack("<I", 1) + s.pack("<I", 3) + b"A=B" + b"\x01"
    )
    return s, page, ident, comment


def test_ogg_page_crc_and_header_strictness():
    """Round-6 Ogg depth: page CRCs (RFC 3533 polynomial, differentially
    tested against an independent bitwise CRC), Vorbis ident/comment
    framing validation, OpusHead/OpusTags structure, and the Opus
    granule-vs-TOC sample budget — each violation must raise ValueError,
    each valid stream must parse."""
    import pytest

    from media_codecs.multimodal import (
        _parse_ogg,
    )

    s, page, ident, comment = _ogg_fixture_tools()
    good = page(0, [ident], 0) + page(22050, [comment, b"\x05" * 40], 1)
    meta = _parse_ogg(good)
    assert (meta["sample_rate"], meta["channels"], meta["n_samples"]) == (44100, 2, 22050)

    with pytest.raises(ValueError, match="CRC"):
        _parse_ogg(page(0, [ident], 0, corrupt_crc=True))
    # ident framing bit cleared
    bad_ident = ident[:-1] + b"\x00"
    with pytest.raises(ValueError, match="framing"):
        _parse_ogg(page(0, [bad_ident], 0))
    # invalid blocksizes (bs0 > bs1)
    bad_bs = ident[:28] + bytes([0x6D, 0x01])
    with pytest.raises(ValueError, match="blocksize"):
        _parse_ogg(page(0, [bad_bs], 0))
    # comment whose declared vendor length escapes the packet
    bomb = b"\x03vorbis" + s.pack("<I", 0xFFFFFF) + b"xx"
    with pytest.raises(ValueError, match="vendor|truncated|escapes"):
        _parse_ogg(page(0, [ident], 0) + page(0, [bomb], 1))

    opus_head = (
        b"OpusHead" + bytes([1, 2]) + s.pack("<H", 312)
        + s.pack("<I", 48000) + s.pack("<h", 0) + bytes([0])
    )
    opus_tags = b"OpusTags" + s.pack("<I", 4) + b"test" + s.pack("<I", 0)
    ok = page(0, [opus_head], 0) + page(
        1272, [opus_tags, b"\xf8\x00", b"\xf8\x00"], 1  # 2x960 + 312 pre-skip
    )
    meta = _parse_ogg(ok)
    assert meta["n_samples"] == 960  # granule 1272 - pre_skip 312
    # granule promises more samples than the packets' TOC bytes supply
    with pytest.raises(ValueError, match="TOC"):
        _parse_ogg(
            page(0, [opus_head], 0) + page(90000, [opus_tags, b"\xf8\x00"], 1)
        )
    # mapping family 0 with 3 channels is invalid
    bad_map = opus_head[:9] + bytes([3]) + opus_head[10:]
    with pytest.raises(ValueError, match="mapping family|channels|at most"):
        _parse_ogg(page(0, [bad_map], 0))


def test_ogg_hostile_fuzz_decode_or_valueerror():
    """Byte-flip fuzz over a valid Vorbis stream: every mutation either
    parses or raises ValueError — no other exception type, no hang (the
    audio_metadata quarantine contract)."""
    import numpy as np

    from media_codecs.multimodal import (
        _parse_ogg,
    )

    _, page, ident, comment = _ogg_fixture_tools()
    good = bytearray(page(0, [ident], 0) + page(22050, [comment, b"\x05" * 40], 1))
    rng = np.random.default_rng(8)
    for _ in range(400):
        buf = bytearray(good)
        for _ in range(int(rng.integers(1, 4))):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        try:
            _parse_ogg(bytes(buf))
        except ValueError:
            pass
