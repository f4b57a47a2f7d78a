"""Differential pin: fused C kernels (functions/native.c) vs the numpy path.

The native kernels must be bit-identical to the numpy full-window path
(gen_band → ndvi_s2/ndvi_landsat, then ``ndvi[valid_mask]`` and the
change_stats delta compaction) — same compacted value arrays (row-major),
same masked counts — across collections, window shapes, trims and the
no-aux edge case. The numpy path stays in the tree as both fallback and
oracle; these tests force it via a temporary ``native.LIB = None`` where
needed.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from azure_workflow_for_kml_satellite_spark.functions import native as N  # noqa: E402
from azure_workflow_for_kml_satellite_spark.functions import raster as R  # noqa: E402
from azure_workflow_for_kml_satellite_spark.operators import change as C  # noqa: E402
from azure_workflow_for_kml_satellite_spark.operators.ndvi import recipe_args  # noqa: E402

pytestmark = pytest.mark.skipif(
    not N.available(), reason="native kernels unavailable (no gcc?)"
)


def _numpy_ndvi(seed, coll, win, aux):
    """Full-window numpy kernel on raw pixel windows: (masked NDVI raster,
    NaN outside valid — an owned copy —, masked_count)."""
    red = R.gen_band(seed, R.BAND_RED, win)
    nir = R.gen_band(seed, R.BAND_NIR, win)
    if coll == "landsat-c2-l2":
        ndvi, vm, masked = R.ndvi_landsat(red, nir, R.gen_band(seed, R.BAND_QA, aux))
    else:
        scl = None if aux is None else R.gen_band(seed, R.BAND_SCL, aux)
        ndvi, vm, masked = R.ndvi_s2(red, nir, scl)
    return np.where(vm, ndvi, np.nan).astype(np.float32), masked


def _numpy_window(seed, coll, win, aux):
    ndvi, masked = _numpy_ndvi(seed, coll, win, aux)
    return ndvi[np.isfinite(ndvi)], masked


def _random_case(rng, trial):
    seed = int(rng.integers(0, 2**32))
    r0 = int(rng.integers(0, 5000))
    c0 = int(rng.integers(0, 5000))
    h = int(rng.integers(1, 260))
    w = int(rng.integers(1, 260))
    win = (r0, r0 + h, c0, c0 + w)
    coll = ["sentinel-2-l2a", "landsat-c2-l2"][trial % 2]
    if coll == "sentinel-2-l2a":
        if trial % 11 == 0:
            aux = None  # empty SCL window edge case
        else:
            ah, aw = max(1, h // 2), max(1, w // 2)
            aux = (r0 // 2, r0 // 2 + ah, c0 // 2, c0 // 2 + aw)
    else:
        aux = win
    return seed, coll, win, aux


def test_window_kernel_bit_identical():
    rng = np.random.default_rng(1234)
    for trial in range(300):
        seed, coll, win, aux = _random_case(rng, trial)
        vals_np, masked_np = _numpy_window(seed, coll, win, aux)
        vals_c, masked_c = R.native_window_valid(seed, coll, win, aux)
        assert masked_np == masked_c, (trial, coll, win)
        assert np.array_equal(vals_np, vals_c), (trial, coll, win)


def test_monster_window_bit_identical():
    win = (100, 2884, 50, 2834)  # 2784^2
    aux = (50, 1442, 25, 1417)
    vals_np, m_np = _numpy_window(7777, "sentinel-2-l2a", win, aux)
    vals_c, m_c = R.native_window_valid(7777, "sentinel-2-l2a", win, aux)
    assert m_np == m_c and np.array_equal(vals_np, vals_c)


def test_change_pair_bit_identical():
    rng = np.random.default_rng(99)
    for trial in range(200):
        sides = []
        for k in range(2):
            seed, coll, win, aux = _random_case(rng, trial + k)
            sides.append((seed, coll, win, aux))
        (sa, ca, wa, aa), (sb, cb, wb, ab) = sides
        min_h = min(wa[1] - wa[0], wb[1] - wb[0])
        min_w = min(wa[3] - wa[2], wb[3] - wb[2])
        # numpy full-window reference (R.change_stats' delta compaction)
        a = _numpy_ndvi(sa, ca, wa, aa)[0][:min_h, :min_w]
        b = _numpy_ndvi(sb, cb, wb, ab)[0][:min_h, :min_w]
        valid = np.isfinite(a) & np.isfinite(b)
        vals_np = np.where(valid, b - a, np.nan)[valid]
        vals_c = R.native_pair_deltas(sa, ca, wa, aa, sb, cb, wb, ab, min_h, min_w)
        assert np.array_equal(vals_np, vals_c), (trial, sides)


def _mk_recipe(rng: random.Random, prefix: str = "", big: bool = False) -> dict:
    """One frame recipe (the NDVI/change operators' input columns): read
    boxes may straddle the scene edge (partial overlap) or miss it (empty
    window); ``big`` windows run to millions of pixels."""
    sx = rng.uniform(-100, 100)
    sy = rng.uniform(-40, 40)
    sw = rng.uniform(0.05, 0.5)
    sh = rng.uniform(0.05, 0.5)
    coll = rng.choice(["sentinel-2-l2a", "landsat-c2-l2"])
    res = 10.0 if coll == "sentinel-2-l2a" else 30.0
    if big:
        sw, sh = 0.35, 0.35
    rx = sx + rng.uniform(-0.02, sw * 0.8)
    ry = sy + rng.uniform(-0.02, sh * 0.8)
    rw = rng.uniform(0.001, sw if big else 0.08)
    rh = rng.uniform(0.001, sh if big else 0.08)
    return {
        prefix + "scene_id": f"scn-{rng.randint(0, 10**6)}",
        prefix + "s_min_lon": sx,
        prefix + "s_min_lat": sy,
        prefix + "s_max_lon": sx + sw,
        prefix + "s_max_lat": sy + sh,
        prefix + "resolution_m": res,
        prefix + "ndvi_collection": coll,
        prefix + "min_lon": rx,
        prefix + "min_lat": ry,
        prefix + "max_lon": rx + rw,
        prefix + "max_lat": ry + rh,
    }


def test_stats_entrypoint_matches_forced_numpy():
    """ndvi_window_stats_blocked must produce identical stats dicts with
    the native path on and off (the operator-level contract)."""
    rng = np.random.default_rng(5)
    cases = []
    for trial in range(40):
        lon0 = float(rng.uniform(-170, 160))
        lat0 = float(rng.uniform(-80, 70))
        dl = float(rng.uniform(0.001, 0.03))
        res = float(rng.choice([10.0, 30.0]))
        coll = ["sentinel-2-l2a", "landsat-c2-l2"][trial % 2]
        scene = [lon0 - 0.05, lat0 - 0.05, lon0 + 0.2, lat0 + 0.2]
        read = [lon0, lat0, lon0 + dl, lat0 + dl]
        cases.append((f"scene-{trial}", scene, res, read, coll))
    recipes = random.Random(11)
    for i in range(150):
        cases.append(recipe_args(_mk_recipe(recipes, big=(i % 17 == 0))))
    native_out = [R.ndvi_window_stats_blocked(*c) for c in cases]
    lib = N.LIB
    try:
        N.LIB = None
        numpy_out = [R.ndvi_window_stats_blocked(*c) for c in cases]
    finally:
        N.LIB = lib
    assert native_out == numpy_out


def test_change_stats_entrypoint_matches_forced_numpy():
    rng = np.random.default_rng(6)
    rows = []
    for trial in range(30):
        rec = {}
        for p in ("a_", "b_"):
            lon0 = float(rng.uniform(-170, 160))
            lat0 = float(rng.uniform(-80, 70))
            dl = float(rng.uniform(0.002, 0.02))
            rec.update({
                p + "scene_id": f"s-{trial}-{p}",
                p + "s_min_lon": lon0 - 0.05, p + "s_min_lat": lat0 - 0.05,
                p + "s_max_lon": lon0 + 0.2, p + "s_max_lat": lat0 + 0.2,
                p + "resolution_m": 10.0,
                p + "ndvi_collection": ["sentinel-2-l2a", "landsat-c2-l2"][trial % 2],
                p + "min_lon": lon0, p + "min_lat": lat0,
                p + "max_lon": lon0 + dl, p + "max_lat": lat0 + dl,
            })
        rows.append(rec)
    recipes = random.Random(23)
    for i in range(100):
        big = i % 23 == 0
        rec = {**_mk_recipe(recipes, "a_", big), **_mk_recipe(recipes, "b_", big)}
        if i % 3 == 0:  # realistic case: both sides read the same AOI bbox
            for c in ("min_lon", "min_lat", "max_lon", "max_lat"):
                rec["b_" + c] = rec["a_" + c]
        rows.append(rec)
    native_out = [C.change_stats_for_pair_blocked(r, -0.1, 0.1) for r in rows]
    lib = N.LIB
    try:
        N.LIB = None
        numpy_out = [C.change_stats_for_pair_blocked(r, -0.1, 0.1) for r in rows]
    finally:
        N.LIB = lib
    assert native_out == numpy_out


def _np_stats_ref(x, lt, gt):
    s = np.sort(x)
    n = len(x)
    return (
        np.mean(x).tobytes(), np.std(x).tobytes(),
        s[0].tobytes(), s[-1].tobytes(),
        s[(n // 2 - 1) if n % 2 == 0 else n // 2].tobytes(),
        s[n // 2].tobytes(),
        int(np.sum(x < lt)), int(np.sum(x > gt)),
    )


def _c_stats(x, lt, gt):
    mean, std, mn, mx, lo, hi, nl, ng = N.stats_f32(x, lt, gt)
    return (
        np.float32(mean).tobytes(), np.float32(std).tobytes(),
        np.float32(mn).tobytes(), np.float32(mx).tobytes(),
        np.float32(lo).tobytes(), np.float32(hi).tobytes(), nl, ng,
    )


def test_stats_f32_bitwise_every_small_length():
    """kmlsat_stats_f32 == np.mean/np.std/np.sort order stats BITWISE for
    every length 1..600 (covers the n<8, 8-accumulator, remainder and
    recursion-split cases of numpy's pairwise sum)."""
    rng = np.random.default_rng(1001)
    for n in range(1, 601):
        x = (rng.standard_normal(n) * 0.4).astype(np.float32)
        assert _c_stats(x, -0.1, 0.1) == _np_stats_ref(x, -0.1, 0.1), n


def test_stats_f32_bitwise_distributions_and_chunk_boundaries():
    """Random lengths across the 8192-element reduce-chunk boundary and
    the distribution families the kernels actually produce (narrow
    duplicate-heavy NDVI bands, constants, sorted runs)."""
    rng = np.random.default_rng(1002)
    sizes = [8191, 8192, 8193, 16384, 44321, 200001, 1048577]
    for trial in range(120):
        n = sizes[trial % len(sizes)] + int(rng.integers(0, 7))
        kind = trial % 5
        if kind == 0:
            x = (rng.standard_normal(n) * 0.4).astype(np.float32)
        elif kind == 1:  # duplicate-heavy narrow band (NDVI-like)
            x = ((rng.integers(0, 5000, n).astype(np.float32) / 10000) + 0.2).astype(
                np.float32
            )
        elif kind == 2:
            x = np.full(n, np.float32(rng.standard_normal() * 0.5))
        elif kind == 3:
            x = np.sort((rng.standard_normal(n) * 0.3).astype(np.float32))
        else:
            x = rng.uniform(-1, 1, n).astype(np.float32)
        assert _c_stats(x, -0.1, 0.1) == _np_stats_ref(x, -0.1, 0.1), (trial, n)


def test_stats_f32_threshold_boundary_cast():
    """The loss/gain comparisons must use numpy's f32 scalar cast: a value
    EQUAL to float32(-0.1) is not < -0.1, its next-lower float32 is."""
    tf = np.float32(-0.1)
    below = np.nextafter(tf, np.float32(-1), dtype=np.float32)
    x = np.array([tf, below, np.float32(0.1), np.float32(0.10000001)], np.float32)
    *_, nl, ng = N.stats_f32(x, -0.1, 0.1)
    assert nl == int(np.sum(x < -0.1)) == 1
    assert ng == int(np.sum(x > 0.1)) == 1


def test_stats_entry_values_native_vs_numpy_unrounded():
    """ndvi_statistics_from_values: native and forced-numpy paths agree on
    real kernel value arrays (the rounded dict AND the raw C floats vs the
    raw numpy reductions — the stricter check)."""
    rng = np.random.default_rng(1003)
    lib = N.LIB
    for trial in range(60):
        seed, coll, win, aux = _random_case(rng, trial)
        vals, _ = _numpy_window(seed, coll, win, aux)
        if len(vals) == 0:
            continue
        assert _c_stats(vals, -0.1, 0.1) == _np_stats_ref(vals, -0.1, 0.1)
        d_native = R.ndvi_statistics_from_values(vals, vals.size)
        try:
            N.LIB = None
            d_numpy = R.ndvi_statistics_from_values(vals, vals.size)
        finally:
            N.LIB = lib
        assert d_native == d_numpy, (trial, d_native, d_numpy)


def test_stats_f32_median_ranks_split_across_buckets():
    """Even-n arrays whose two middle order statistics differ in the TOP 16
    key bits exercise the b1 != b2 two-bucket compaction path of the radix
    select (half negatives, half positives — the split lands exactly
    between the middle ranks)."""
    rng = np.random.default_rng(1004)
    for n_half in [4, 64, 4096, 4097, 8192, 30000]:
        lo = (-rng.uniform(0.2, 1.0, n_half)).astype(np.float32)
        hi = rng.uniform(0.2, 1.0, n_half).astype(np.float32)
        x = np.concatenate([lo, hi])
        rng.shuffle(x)
        assert _c_stats(x, -0.1, 0.1) == _np_stats_ref(x, -0.1, 0.1), n_half
