"""Raster kernel goldens — numbers transfer from the reference's tests
(reference: tests/test_ndvi.py, tests/test_change_detection.py)."""

import numpy as np

from azure_workflow_for_kml_satellite_spark.functions import raster as R


def test_ndvi_golden_uniform():
    # reference: tests/test_ndvi.py:211-233 — red=1000, nir=3000 → mean 0.5, std 0
    red = np.full((10, 10), 1000, np.uint16)
    nir = np.full((10, 10), 3000, np.uint16)
    ndvi, mask, masked = R.ndvi_s2(red, nir, None)
    st = R.ndvi_statistics(ndvi, mask)
    assert st["mean"] == 0.5 and st["std"] == 0.0
    assert st["valid_pixels"] == 100 and st["total_pixels"] == 100
    assert masked == 0


def test_ndvi_nodata_pixels():
    # reference: tests/test_ndvi.py:237-253
    red = np.full((4, 4), 1000, np.uint16)
    nir = np.full((4, 4), 3000, np.uint16)
    red[0, 0] = 0
    ndvi, mask, _ = R.ndvi_s2(red, nir, None)
    st = R.ndvi_statistics(ndvi, mask)
    assert st["valid_pixels"] == 15 and st["total_pixels"] == 16


def test_ndvi_shape_mismatch_trim():
    # reference: tests/test_ndvi.py:255-276
    red = np.full((5, 4), 1000, np.uint16)
    nir = np.full((4, 5), 3000, np.uint16)
    ndvi, mask, _ = R.ndvi_s2(red, nir, None)
    assert ndvi.shape == (4, 4)


def test_scl_mask_golden():
    # reference: tests/test_ndvi.py:369-391 — 2x2 [[4,9],[4,4]] over 4x4 → 12 valid, 4 masked
    red = np.full((4, 4), 1000, np.uint16)
    nir = np.full((4, 4), 3000, np.uint16)
    scl = np.array([[4, 9], [4, 4]], np.uint8)
    ndvi, mask, masked = R.ndvi_s2(red, nir, scl)
    st = R.ndvi_statistics(ndvi, mask)
    assert masked == 4 and st["valid_pixels"] == 12


def test_landsat_qa_mask():
    # bits 1,3,4,5 mask (reference: ndvi.py:274-276, 386-411)
    red = np.full((2, 2), 5000, np.uint16)
    nir = np.full((2, 2), 9000, np.uint16)
    qa = np.array([[0, 8], [2, 0]], np.uint16)  # 8=cloud bit3, 2=dilated bit1
    ndvi, mask, masked = R.ndvi_landsat(red, nir, qa)
    st = R.ndvi_statistics(ndvi, mask)
    assert masked == 2 and st["valid_pixels"] == 2


def test_resample_nearest_2x():
    scl = np.array([[1, 2], [3, 4]], np.uint8)
    out = R.resample_nearest(scl, (4, 4))
    assert out.shape == (4, 4)
    assert out[0, 0] == 1 and out[3, 3] == 4 and out[0, 3] == 2


def test_change_uniform_loss():
    # reference: tests/test_change_detection.py:37-49 — 0.6 → 0.3 → loss 100%
    a = np.full((5, 5), 0.6, np.float32)
    b = np.full((5, 5), 0.3, np.float32)
    st = R.change_stats(a, b, 0.01)
    assert st["loss_pct"] == 100.0 and st["gain_pct"] == 0.0
    assert st["mean_delta"] < -0.2


def test_change_mixed_quadrants():
    # reference: tests/test_change_detection.py:65-78 — 25% loss, 25% gain
    a = np.zeros((2, 2), np.float32)
    b = np.array([[-0.2, 0.2], [0.0, 0.0]], np.float32)
    st = R.change_stats(a, b, 0.01)
    assert st["loss_pct"] == 25.0 and st["gain_pct"] == 25.0


def test_change_nan_intersection_only():
    # reference: tests/test_change_detection.py:80-91 — only both-finite counted
    a = np.array([[0.5, np.nan], [0.5, 0.5]], np.float32)
    b = np.array([[0.5, 0.5], [np.nan, 0.5]], np.float32)
    st = R.change_stats(a, b, 0.01)
    assert st["valid_pixels"] == 2


def test_change_all_nan_returns_none():
    a = np.full((2, 2), np.nan, np.float32)
    assert R.change_stats(a, a, 0.01) is None


def test_change_thresholds():
    # reference: tests/test_change_detection.py:116-134
    a = np.zeros((1, 3), np.float32)
    b = np.array([[-0.15, 0.05, 0.15]], np.float32)
    st = R.change_stats(a, b, 1.0, loss_threshold=-0.1, gain_threshold=0.1)
    assert st["loss_ha"] == 1.0 and st["gain_ha"] == 1.0 and st["stable_ha"] == 1.0


def test_synthetic_bands_deterministic_and_window_pure():
    """The same geographic pixels must have identical values regardless of
    the window they are read through (parallel-safety invariant)."""
    seed = R.scene_seed("sentinel-2-l2a_1_2_202306")
    full = R.gen_band(seed, R.BAND_RED, (0, 20, 0, 20))
    sub = R.gen_band(seed, R.BAND_RED, (5, 15, 5, 15))
    assert np.array_equal(full[5:15, 5:15], sub)


def test_window_from_bounds_clamps():
    sb = [0.0, 0.0, 0.5, 0.5]
    w = R.window_from_bounds(sb, 10.0, [-1.0, 0.4, 0.1, 1.0])
    assert w is not None
    row0, row1, col0, col1 = w
    assert row0 == 0 and col0 == 0
    assert R.window_from_bounds(sb, 10.0, [2.0, 2.0, 3.0, 3.0]) is None
