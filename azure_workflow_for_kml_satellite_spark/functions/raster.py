"""Raster kernels + deterministic synthetic tile provider (SURVEY.md §2.9).

The reference reads Cloud-Optimized GeoTIFF windows over HTTP
(reference: fulfilment.py:237-295, ndvi.py:463-484) and computes NDVI band
math + stats in numpy (ndvi.py:189-236, 401-447). rasterio is not installed
here and there is no network, so this engine pairs the *same numpy math* with
a deterministic synthetic band provider in the spirit of the reference's own
stub imagery provider (reference: treesight/providers/stub.py:36-80,
tests/tiff_helpers.py:12-69): band values are a pure integer-hash function of
(scene_id, band, pixel row, pixel col), so any executor — and the sequential
oracle — regenerates identical pixels for a given window with no I/O.

Synthetic scenes are EPSG:4326 north-up grids anchored at the scene bbox
top-left; the reference's bbox CRS transform (geo.py:85-104) is the identity
in that case, preserving its windowing semantics.
"""

from __future__ import annotations

import zlib

import numpy as np

from azure_workflow_for_kml_satellite_spark.constants import (
    LANDSAT_QA_CLOUD_BITS,
    VALID_SCL_CLASSES,
)

# ── deterministic hash fields ────────────────────────────────────────────────
#
# uint32 murmur3-fmix pipeline with reusable scratch buffers and out= ufuncs.
# Two environment facts drive this shape (measured, see BENCH notes):
# this container's numpy dispatches uint64 right_shift to a scalar loop
# (~40x slower than every other elementwise op), and fresh large allocations
# page-fault at ~170 MB/s — so the generator avoids uint64 shifts entirely
# and recycles per-band scratch arrays across windows.

_M1 = np.uint32(0x85EBCA6B)
_M2 = np.uint32(0xC2B2AE35)


def scene_seed(scene_id: str) -> int:
    """Stable 32-bit seed from a scene id (crc32 of bytes)."""
    return zlib.crc32(scene_id.encode("utf-8")) & 0xFFFFFFFF


_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(slot: str, n: int, dtype) -> np.ndarray:
    """Reused flat buffer per (slot); valid until the slot's next request.
    Each Python worker has its own module state, so this is task-safe."""
    buf = _SCRATCH.get(slot)
    if buf is None or buf.size < n or buf.dtype != np.dtype(dtype):
        buf = np.empty(int(n * 5 // 4) + 16, dtype)
        _SCRATCH[slot] = buf
    return buf[:n]


def _hash_grid(seed: int, band: int, row0: int, row1: int, col0: int, col1: int,
               slot: str = "h") -> np.ndarray:
    """uint32 hash for every pixel of a window; pixel-position pure (the
    value depends only on (seed, band, absolute row, absolute col), never on
    the window placement). Returns a view of a scratch buffer — consume it
    before the next _hash_grid call with the same slot."""
    hh, ww = row1 - row0, col1 - col0
    n = hh * ww
    rows = (np.arange(row0, row1, dtype=np.uint32) * _M1)[:, None]
    cols = (np.arange(col0, col1, dtype=np.uint32) * _M2)[None, :]
    s = np.uint32((int(seed) ^ (int(band) * 0x27D4EB2F)) & 0xFFFFFFFF)
    h = _scratch(slot, n, np.uint32).reshape(hh, ww)
    tmp = _scratch(slot + "_t", n, np.uint32).reshape(hh, ww)
    np.bitwise_xor(rows, cols, out=h)
    np.bitwise_xor(h, s, out=h)
    # murmur3 fmix32 rounds
    np.right_shift(h, 16, out=tmp)
    np.bitwise_xor(h, tmp, out=h)
    np.multiply(h, _M1, out=h)
    np.right_shift(h, 13, out=tmp)
    np.bitwise_xor(h, tmp, out=h)
    np.multiply(h, _M2, out=h)
    np.right_shift(h, 16, out=tmp)
    np.bitwise_xor(h, tmp, out=h)
    return h


# ── scene grid + windowing ───────────────────────────────────────────────────

DEG_PER_METRE = 1.0 / 111_320.0


def grid_shape(bbox: list[float], resolution_m: float) -> tuple[int, int]:
    """(height, width) of a scene raster covering bbox at resolution_m: the
    metric grid of ``grid_shape_m`` with a pixel of resolution_m in degrees."""
    return grid_shape_m(bbox, resolution_m * DEG_PER_METRE)


def window_from_bounds(
    scene_bbox: list[float],
    resolution_m: float,
    read_bbox: list[float],
) -> tuple[int, int, int, int] | None:
    """Pixel window (row0, row1, col0, col1) for read_bbox, clamped to the
    scene raster — the role of rasterio.windows.from_bounds + clamp
    (reference: ndvi.py:474-478). Floor/ceil semantics: any pixel touching
    the bbox is included. The body is ``window_from_bounds_m``'s, with a
    pixel of resolution_m in degrees.
    """
    return window_from_bounds_m(scene_bbox, resolution_m * DEG_PER_METRE, read_bbox)


def grid_shape_m(bbox_m: list[float], resolution_m: float) -> tuple[int, int]:
    """(height, width) of a PROJECTED-CRS scene raster (bbox in metres,
    pixel size = resolution_m in CRS units — the UTM-scene grid)."""
    h = max(1, int(round((bbox_m[3] - bbox_m[1]) / resolution_m)))
    w = max(1, int(round((bbox_m[2] - bbox_m[0]) / resolution_m)))
    return h, w


def window_from_bounds_m(
    scene_bbox_m: list[float],
    resolution_m: float,
    read_bbox_m: list[float],
) -> tuple[int, int, int, int] | None:
    """Pixel window on a projected (UTM) scene grid, pixel size in CRS
    units; the one window body (``window_from_bounds`` calls it with the
    pixel size in degrees): floor/ceil + clamp."""
    import math

    px = resolution_m
    h, w = grid_shape_m(scene_bbox_m, resolution_m)
    x0, y1 = scene_bbox_m[0], scene_bbox_m[3]
    col0 = max(0, min(w, int(math.floor((read_bbox_m[0] - x0) / px))))
    col1 = max(0, min(w, int(math.ceil((read_bbox_m[2] - x0) / px))))
    row0 = max(0, min(h, int(math.floor((y1 - read_bbox_m[3]) / px))))
    row1 = max(0, min(h, int(math.ceil((y1 - read_bbox_m[1]) / px))))
    if col1 <= col0 or row1 <= row0:
        return None
    return row0, row1, col0, col1


# uint8-indexed validity table for the SCL mask (see ndvi_s2): one gather
# replaces np.isin's sort/search on every window
_SCL_VALID_LUT = np.zeros(256, dtype=np.bool_)
_SCL_VALID_LUT[list(VALID_SCL_CLASSES)] = True

# Band codes for the hash field
BAND_RED = 1
BAND_NIR = 2
BAND_SCL = 3
BAND_QA = 4
BAND_CLASS = 5

# SCL class table indexed by h%10: 30% invalid (9=cloud, 8=cloud-prob, 3=shadow),
# 70% valid surface classes {2,4,5,6} (reference: ndvi.py:98-103).
_SCL_TABLE = np.array([9, 8, 3, 4, 5, 6, 2, 4, 5, 4], dtype=np.uint8)
# Landsat QA_PIXEL values indexed by h%10: 30% flagged via bits 1/3/4 of the
# clear mask 0b00111010 (reference: ndvi.py:274-276).
_QA_TABLE = np.array([2, 8, 16, 0, 0, 0, 0, 0, 0, 0], dtype=np.uint16)
# Land-cover class codes for classification tiles (WorldCover-style,
# reference: eudr.py:229-241): 0=nodata sprinkled at ~2%.
_CLASS_TABLE = np.array([10, 10, 10, 20, 30, 40, 50, 60, 80, 95], dtype=np.uint8)

# Exact divisibility via modular inverse (odd d): x % d == 0  ⟺
# (x * d⁻¹ mod 2³²) ≤ ⌊(2³² − 1) / d⌋. One u32 multiply + compare replaces
# np.mod, which this numpy build runs ~10x slower than multiply (measured
# 0.43 vs 3.9 Gelem/s) — the nodata masks only need the divisibility bit.
_INV97 = np.uint32(pow(97, -1, 2**32))
_THR97 = np.uint32((2**32 - 1) // 97)
_INV101 = np.uint32(pow(101, -1, 2**32))
_THR101 = np.uint32((2**32 - 1) // 101)
_INV53 = np.uint32(pow(53, -1, 2**32))
_THR53 = np.uint32((2**32 - 1) // 53)


def gen_band(
    seed: int, band: int, window: tuple[int, int, int, int]
) -> np.ndarray:
    """Deterministic synthetic band pixels for a window of a scene raster.

    Returns a fresh (owned) array; all intermediate work runs in scratch
    buffers with out= ufuncs (see _hash_grid docstring for why)."""
    row0, row1, col0, col1 = window
    hh, ww = row1 - row0, col1 - col0
    n = hh * ww
    h = _hash_grid(seed, band, row0, row1, col0, col1)
    t32 = _scratch("gb32", n, np.uint32).reshape(hh, ww)
    mask = _scratch("gbmask", n, np.bool_).reshape(hh, ww)
    if band == BAND_RED:
        np.right_shift(h, 8, out=t32)
        np.mod(t32, np.uint32(1200), out=t32)
        np.add(t32, np.uint32(300), out=t32)
        vals = t32.astype(np.uint16)
        np.multiply(h, _INV97, out=h)  # h % 97 == 0 ⟺ h·97⁻¹ ≤ _THR97
        np.less_equal(h, _THR97, out=mask)
        vals[mask] = 0  # ~1% nodata
        return vals
    if band == BAND_NIR:
        # Smooth vegetation gradient + noise so NDVI has spatial structure.
        # (13·row + 7·col + seed%1000) % 100 is separable: reduce each 1-D
        # term mod 100 first, then one conditional subtract folds the sum
        # (< 200) — replaces the full-2D np.mod (the slow op, see above).
        rmod = (np.arange(row0, row1, dtype=np.uint32) * np.uint32(13)
                + np.uint32(int(seed) % 1000)) % np.uint32(100)
        cmod = (np.arange(col0, col1, dtype=np.uint32) * np.uint32(7)) % np.uint32(100)
        veg = _scratch("gbveg", n, np.uint32).reshape(hh, ww)
        np.add(rmod[:, None], cmod[None, :], out=veg)
        np.greater_equal(veg, np.uint32(100), out=mask)
        np.subtract(veg, np.uint32(100), out=veg, where=mask)
        np.multiply(veg, np.uint32(55), out=veg)
        np.right_shift(h, 8, out=t32)
        np.mod(t32, np.uint32(900), out=t32)
        np.add(t32, veg, out=t32)
        np.add(t32, np.uint32(400), out=t32)
        vals = t32.astype(np.uint16)
        np.multiply(h, _INV101, out=h)
        np.less_equal(h, _THR101, out=mask)
        vals[mask] = 0  # ~1% nodata
        return vals
    if band in (BAND_SCL, BAND_QA, BAND_CLASS):
        np.mod(h, np.uint32(10), out=t32)
        if band == BAND_SCL:
            return _SCL_TABLE[t32]
        if band == BAND_QA:
            return _QA_TABLE[t32]
        out = _CLASS_TABLE[t32]
        np.multiply(h, _INV53, out=h)
        np.less_equal(h, _THR53, out=mask)
        out[mask] = 0  # ~2% nodata class code
        return out
    raise ValueError(f"unknown band code {band}")


def window_recipe(
    scene_id: str,
    scene_bbox: list[float],
    resolution_m: float,
    read_bbox: list[float],
    collection: str,
) -> tuple[int, str, tuple[int, int, int, int], tuple | None] | None:
    """The read recipe of one frame: ``(seed, collection, win, aux_win)``, or
    None when the read window is empty. ``aux_win`` is the mask band's
    window: Landsat QA shares ``win``; the S2 SCL band is read at 2x pixel
    size (``s2_aux_win``; None when that window is empty)."""
    win = window_from_bounds(scene_bbox, resolution_m, read_bbox)
    if win is None:
        return None
    aux_win = win if collection == "landsat-c2-l2" else s2_aux_win(
        scene_bbox, resolution_m, read_bbox
    )
    return scene_seed(scene_id), collection, win, aux_win


def _recipe_bands(recipe) -> dict[str, np.ndarray]:
    seed, collection, win, aux_win = recipe
    out = {
        "red": gen_band(seed, BAND_RED, win),
        "nir": gen_band(seed, BAND_NIR, win),
    }
    if collection == "landsat-c2-l2":
        out["qa"] = gen_band(seed, BAND_QA, aux_win)
    elif aux_win is not None:
        out["scl"] = gen_band(seed, BAND_SCL, aux_win)
    return out


def read_window_bands(
    scene_id: str,
    scene_bbox: list[float],
    resolution_m: float,
    read_bbox: list[float],
    collection: str,
) -> dict[str, np.ndarray] | None:
    """Windowed 'COG read' of the synthetic scene: returns the band arrays the
    NDVI kernels need. S2: red/nir at resolution_m + scl at 2x pixel size
    (20 m vs 10 m — exercises the categorical resample path, ndvi.py:166-180).
    Landsat: red/nir/qa all at resolution_m.
    """
    recipe = window_recipe(scene_id, scene_bbox, resolution_m, read_bbox, collection)
    return None if recipe is None else _recipe_bands(recipe)


def read_window_bands_utm(
    scene_id: str,
    scene_bbox_m: list[float],
    resolution_m: float,
    read_bbox_m: list[float],
) -> dict[str, np.ndarray] | None:
    """Windowed read of the UTM-gridded sentinel variant of a scene (the
    reference reads every COG on its native UTM grid after transforming the
    AOI bbox into the scene CRS, fulfilment.py:264-271). Distinct raster
    content from the geographic variant (seed is salted with ':utm');
    red/nir at resolution_m, SCL at 2x pixel size, all in CRS metres."""
    win = window_from_bounds_m(scene_bbox_m, resolution_m, read_bbox_m)
    if win is None:
        return None
    scl_win = window_from_bounds_m(scene_bbox_m, resolution_m * 2, read_bbox_m)
    return _recipe_bands((scene_seed(scene_id + ":utm"), "sentinel-2-l2a", win, scl_win))


def read_class_window(
    layer_name: str, read_bbox: list[float], resolution_m: float
) -> np.ndarray | None:
    """Windowed read of a synthetic GLOBAL classification mosaic (WorldCover /
    IO-LULC / ALOS-FNF role, reference: pipeline/eudr.py:244-398, 472-563,
    619-719). Global pixel indexing (anchored at lon -180 / lat +90) keeps
    values window-pure; the layer name seeds the hash so years/products
    differ."""
    px = resolution_m * DEG_PER_METRE
    import math

    col0 = int(math.floor((read_bbox[0] + 180.0) / px))
    col1 = int(math.ceil((read_bbox[2] + 180.0) / px))
    row0 = int(math.floor((90.0 - read_bbox[3]) / px))
    row1 = int(math.ceil((90.0 - read_bbox[1]) / px))
    if col1 <= col0 or row1 <= row0:
        return None
    seed = scene_seed(layer_name)
    return gen_band(seed, BAND_CLASS, (row0, row1, col0, col1))


def class_histogram(classes: np.ndarray) -> list[dict]:
    """Class histogram excluding nodata code 0: pixel counts + area_pct (2dp)
    sorted desc by count (reference: eudr.py:773-843; F8 nodata exclusion).
    Ties broken by class code asc for determinism."""
    vals, counts = np.unique(classes, return_counts=True)
    keep = vals != 0
    vals, counts = vals[keep], counts[keep]
    total = int(counts.sum())
    if total == 0:
        return []
    rows = [
        {
            "class_code": int(v),
            "pixel_count": int(c),
            "area_pct": round(100.0 * int(c) / total, 2),
        }
        for v, c in zip(vals, counts)
    ]
    rows.sort(key=lambda r: (-r["pixel_count"], r["class_code"]))
    return rows


# ── reference numpy kernels ──────────────────────────────────────────────────


def _resample_indices(
    src_shape: tuple[int, int], target_shape: tuple[int, int]
) -> tuple[np.ndarray, np.ndarray]:
    """Pixel-centre nearest-neighbour index arrays; cached — window shapes
    repeat across the frames of an AOI and across same-sized AOIs, and the
    arrays depend only on the two shapes."""
    key = (src_shape, target_shape)
    cached = _RESAMPLE_IDX.get(key)
    if cached is not None:
        return cached
    row_scale = src_shape[0] / target_shape[0]
    col_scale = src_shape[1] / target_shape[1]
    row_idx = np.rint((np.arange(target_shape[0]) + 0.5) * row_scale - 0.5).astype(int)
    col_idx = np.rint((np.arange(target_shape[1]) + 0.5) * col_scale - 0.5).astype(int)
    np.clip(row_idx, 0, src_shape[0] - 1, out=row_idx)
    np.clip(col_idx, 0, src_shape[1] - 1, out=col_idx)
    if len(_RESAMPLE_IDX) > 4096:
        _RESAMPLE_IDX.clear()  # bound worker memory; shapes rarely exceed this
    _RESAMPLE_IDX[key] = (row_idx, col_idx)
    return row_idx, col_idx


_RESAMPLE_IDX: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def resample_nearest(src: np.ndarray, target_shape: tuple[int, int]) -> np.ndarray:
    """Categorical nearest-neighbour resample, pixel-centre mapping
    (reference: ndvi.py:487-510 — must match exactly: affects masked counts)."""
    if src.shape == tuple(target_shape):
        return src
    row_idx, col_idx = _resample_indices(src.shape, tuple(target_shape))
    return src[np.ix_(row_idx, col_idx)]


def _ndvi_core(red_raw: np.ndarray, nir_raw: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ndvi, base validity mask) with scratch buffers + out= ufuncs.

    Produces BIT-IDENTICAL values to the reference's expression
    ``np.where(denom>0, (nir-red)/denom, nan)`` with
    ``valid = (red_raw>0)&(nir_raw>0)&isfinite(ndvi)`` (ndvi.py:206-211) —
    same float32 operations per element, just without fresh temporaries
    (the raster stages are memory-bandwidth-bound)."""
    hh, ww = red_raw.shape
    n = hh * ww
    red = _scratch("ndf_red", n, np.float32).reshape(hh, ww)
    nir = _scratch("ndf_nir", n, np.float32).reshape(hh, ww)
    den = _scratch("ndf_den", n, np.float32).reshape(hh, ww)
    ndvi = _scratch("ndf_out", n, np.float32).reshape(hh, ww)
    pos = _scratch("ndf_pos", n, np.bool_).reshape(hh, ww)
    vm = _scratch("ndf_vm", n, np.bool_).reshape(hh, ww)
    t = _scratch("ndf_t", n, np.bool_).reshape(hh, ww)
    np.copyto(red, red_raw, casting="unsafe")
    np.copyto(nir, nir_raw, casting="unsafe")
    np.add(nir, red, out=den)
    np.greater(den, 0, out=pos)
    np.subtract(nir, red, out=ndvi)  # numerator in the output buffer
    ndvi_full = ndvi
    np.divide(ndvi_full, den, out=ndvi_full, where=pos)
    np.logical_not(pos, out=t)
    ndvi_full[t] = np.nan  # reference: np.where(denom>0, ..., nan)
    # valid = red_raw>0 & nir_raw>0 & isfinite(ndvi)
    np.greater(red_raw, 0, out=vm)
    np.greater(nir_raw, 0, out=t)
    np.logical_and(vm, t, out=vm)
    np.isfinite(ndvi_full, out=t)
    np.logical_and(vm, t, out=vm)
    return ndvi_full, vm


def ndvi_s2(
    red_raw: np.ndarray, nir_raw: np.ndarray, scl: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray, int]:
    """Sentinel-2 NDVI + validity mask + SCL masked count
    (reference: ndvi.py:158-215 pure-python path, incl. shape-mismatch trim)."""
    if red_raw.shape != nir_raw.shape:
        min_h = min(red_raw.shape[0], nir_raw.shape[0])
        min_w = min(red_raw.shape[1], nir_raw.shape[1])
        red_raw = red_raw[:min_h, :min_w]
        nir_raw = nir_raw[:min_h, :min_w]
    scl_mask = resample_nearest(scl, red_raw.shape) if scl is not None else None
    ndvi, valid_mask = _ndvi_core(red_raw, nir_raw)
    scl_masked_count = 0
    if scl_mask is not None:
        # identical semantics to np.isin(scl_mask, VALID_SCL_CLASSES) but a
        # 256-entry table gather instead of a sort/search — np.isin measured
        # ~24% of this whole kernel on 12.5k-px windows
        scl_valid = _SCL_VALID_LUT[scl_mask]
        scl_masked_count = int(np.sum(valid_mask & ~scl_valid))
        np.logical_and(valid_mask, scl_valid, out=valid_mask)
    return ndvi, valid_mask, scl_masked_count


def ndvi_landsat(
    red_raw: np.ndarray, nir_raw: np.ndarray, qa: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray, int]:
    """Landsat NDVI + validity mask + QA masked count
    (reference: ndvi.py:376-411)."""
    if red_raw.shape != nir_raw.shape:
        min_h = min(red_raw.shape[0], nir_raw.shape[0])
        min_w = min(red_raw.shape[1], nir_raw.shape[1])
        red_raw = red_raw[:min_h, :min_w]
        nir_raw = nir_raw[:min_h, :min_w]
    ndvi, valid_mask = _ndvi_core(red_raw, nir_raw)
    qa_masked_count = 0
    if qa is not None:
        if qa.shape != red_raw.shape:
            qa = resample_nearest(qa, red_raw.shape)
        qa_mask = (qa.astype(np.uint16) & np.uint16(LANDSAT_QA_CLOUD_BITS)) == 0
        qa_masked_count = int(np.sum(valid_mask & ~qa_mask))
        np.logical_and(valid_mask, qa_mask, out=valid_mask)
    return ndvi, valid_mask, qa_masked_count


def _recipe_ndvi(recipe) -> tuple[np.ndarray, np.ndarray, int]:
    """ndvi_s2/ndvi_landsat on a recipe's full window."""
    bands = _recipe_bands(recipe)
    if recipe[1] == "landsat-c2-l2":
        return ndvi_landsat(bands["red"], bands["nir"], bands["qa"])
    return ndvi_s2(bands["red"], bands["nir"], bands.get("scl"))


def window_ndvi(
    scene_id: str,
    scene_bbox: list[float],
    resolution_m: float,
    read_bbox: list[float],
    collection: str,
) -> tuple[np.ndarray, np.ndarray, int] | None:
    """read_window_bands → ndvi_s2/ndvi_landsat on the full window:
    ``(ndvi, valid_mask, masked_count)``, or None when the window is empty.
    The arrays are scratch-backed — consume (or copy) before the next call."""
    recipe = window_recipe(scene_id, scene_bbox, resolution_m, read_bbox, collection)
    return None if recipe is None else _recipe_ndvi(recipe)


def ndvi_statistics(ndvi: np.ndarray, valid_mask: np.ndarray) -> dict | None:
    """Rounded stats over valid pixels (reference: ndvi.py:217-236). Returns
    None when no valid pixels (reference returns None → frame has no stat)."""
    return ndvi_statistics_from_values(ndvi[valid_mask], int(ndvi.size))


def ndvi_statistics_from_values(
    valid_pixels: np.ndarray, total_pixels: int
) -> dict | None:
    """The ndvi_statistics reductions over an already-compacted valid-pixel
    array (row-major order, as ``ndvi[valid_mask]`` and the native window
    kernel both yield it), via ``native.stats_f32``."""
    n = len(valid_pixels)
    if n == 0:
        return None
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    mean, std, vmin, vmax, med_lo, med_hi, _, _ = N.stats_f32(valid_pixels)
    return {
        "mean": round(float(mean), 4),
        "min": round(float(vmin), 4),
        "max": round(float(vmax), 4),
        "std": round(float(std), 4),
        "median": round(float(_median_of_pair(med_lo, med_hi, n)), 4),
        "valid_pixels": int(n),
        "total_pixels": int(total_pixels),
    }


def _median_of_pair(med_lo: float, med_hi: float, n: int):
    """np.median of a NaN-free float32 array from its two middle order
    statistics: np.median takes the same order statistics and np.mean's the
    middle slice, reproduced here on the same values — bit-identical."""
    if n % 2 == 0:
        return np.mean(np.array([med_lo, med_hi], dtype=np.float32))
    return np.mean(np.array([med_hi], dtype=np.float32))


def s2_aux_win(
    scene_bbox: list[float], resolution_m: float, read_bbox: list[float]
) -> tuple[int, int, int, int] | None:
    """SCL window for an S2 read (2x pixel size; reference: ndvi.py:166-180)."""
    return window_from_bounds(scene_bbox, resolution_m * 2, read_bbox)


# ── fused native kernels (functions/native.c; bit-identical fast path) ──────
#
# When the ctypes library is available the window/pair kernels below feed
# the reductions from a single fused C pass (hash → band → NDVI → mask →
# row-major compaction), instead of ~30 elementwise numpy passes. The C
# mirror is exact (see native.c header), so every downstream value is
# bit-identical either way. ``window_values`` and ``pair_deltas`` are the
# only places that choose between C and the numpy full-window path
# (``_recipe_ndvi``), which is both the no-gcc path and the differential
# oracle (tests/test_native_kernels.py); ``native.stats_f32`` makes the same
# choice for the reductions.


def native_side_params(
    seed: int,
    collection: str,
    win: tuple[int, int, int, int],
    aux_win: tuple[int, int, int, int] | None,
    out_h: int,
    out_w: int,
):
    """(kind, r0, c0, aux_r0, aux_c0, row_idx, col_idx, seed%1000) for one
    side of a native kernel call. Resample indices are computed against the
    FULL window shape then trimmed — the numpy path's exact semantics."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    r0, _r1, c0, _c1 = win
    if collection == "landsat-c2-l2":
        return N.KIND_LANDSAT, r0, c0, 0, 0, None, None, int(seed) % 1000
    if aux_win is None:
        return N.KIND_BARE, r0, c0, 0, 0, None, None, int(seed) % 1000
    h_full, w_full = win[1] - win[0], win[3] - win[2]
    scl_shape = (aux_win[1] - aux_win[0], aux_win[3] - aux_win[2])
    row_idx, col_idx = _resample_indices(scl_shape, (h_full, w_full))
    return (
        N.KIND_S2,
        r0,
        c0,
        aux_win[0],
        aux_win[2],
        np.ascontiguousarray(row_idx[:out_h]),
        np.ascontiguousarray(col_idx[:out_w]),
        int(seed) % 1000,
    )


def _i64p(arr):
    import ctypes

    if arr is None:
        return None
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def native_window_valid(
    seed: int,
    collection: str,
    win: tuple[int, int, int, int],
    aux_win: tuple[int, int, int, int] | None,
) -> tuple[np.ndarray, int]:
    """(valid NDVI values row-major — a scratch view, consume before the
    next call — , masked_count) for the full window, via the fused C pass.
    Caller must have checked native.available()."""
    import ctypes

    from azure_workflow_for_kml_satellite_spark.functions import native as N

    h, w = win[1] - win[0], win[3] - win[2]
    kind, r0, c0, ar0, ac0, ri, ci, s1000 = native_side_params(
        seed, collection, win, aux_win, h, w
    )
    buf = _scratch("nat_vals", h * w, np.float32)
    masked = ctypes.c_int64(0)
    n = N.LIB.kmlsat_window_valid(
        int(seed) & 0xFFFFFFFF, kind, r0, c0, h, w, ar0, ac0,
        _i64p(ri), _i64p(ci), s1000,
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_float)),
        ctypes.byref(masked),
    )
    return buf[: int(n)], int(masked.value)


def native_pair_deltas(
    seed_a, coll_a, win_a, aux_a, seed_b, coll_b, win_b, aux_b, min_h, min_w
) -> np.ndarray:
    """Jointly-valid deltas (b − a, row-major over the common top-left
    ``min_h × min_w`` window) via the fused C pair kernel — a scratch view,
    consume before the next call. Caller must have checked
    native.available()."""
    import ctypes

    from azure_workflow_for_kml_satellite_spark.functions import native as N

    ka, ar0, ac0, aar0, aac0, ari, aci, as1000 = native_side_params(
        seed_a, coll_a, win_a, aux_a, min_h, min_w
    )
    kb, br0, bc0, bar0, bac0, bri, bci, bs1000 = native_side_params(
        seed_b, coll_b, win_b, aux_b, min_h, min_w
    )
    buf = _scratch("nat_deltas", min_h * min_w, np.float32)
    n = N.LIB.kmlsat_change_pair_valid(
        int(seed_a) & 0xFFFFFFFF, ka, ar0, ac0, aar0, aac0,
        _i64p(ari), _i64p(aci), as1000,
        int(seed_b) & 0xFFFFFFFF, kb, br0, bc0, bar0, bac0,
        _i64p(bri), _i64p(bci), bs1000,
        min_h, min_w,
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_float)),
    )
    return buf[: int(n)]


def window_values(recipe) -> tuple[np.ndarray, int]:
    """(valid NDVI values row-major, masked_count) of a ``window_recipe``:
    the fused C pass when available, else the numpy kernel's
    ``ndvi[valid_mask]`` (same values)."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    if N.available():
        return native_window_valid(*recipe)
    ndvi, valid_mask, masked = _recipe_ndvi(recipe)
    return ndvi[valid_mask], masked


def pair_deltas(recipe_a, recipe_b) -> np.ndarray:
    """Jointly-valid deltas b − a of two ``window_recipe``s over their common
    top-left window, row-major: the fused C pair kernel when available,
    else the numpy rasters' ``joint_deltas`` (same values)."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    if N.available():
        win_a, win_b = recipe_a[2], recipe_b[2]
        min_h = min(win_a[1] - win_a[0], win_b[1] - win_b[0])
        min_w = min(win_a[3] - win_a[2], win_b[3] - win_b[2])
        return native_pair_deltas(*recipe_a, *recipe_b, min_h, min_w)
    ndvi_a, mask_a, _ = _recipe_ndvi(recipe_a)
    masked_a = np.where(mask_a, ndvi_a, np.nan)  # owned: side b reuses the scratch
    ndvi_b, mask_b, _ = _recipe_ndvi(recipe_b)
    return joint_deltas(masked_a, np.where(mask_b, ndvi_b, np.nan))


def ndvi_window_stats_blocked(
    scene_id: str,
    scene_bbox: list[float],
    resolution_m: float,
    read_bbox: list[float],
    collection: str,
) -> tuple[dict | None, int] | None:
    """Windowed read + NDVI kernel + stats for one row. Returns None when
    the window is empty (the ``bands is None`` case), else
    ``(stats | None, masked_count)``."""
    recipe = window_recipe(scene_id, scene_bbox, resolution_m, read_bbox, collection)
    if recipe is None:
        return None
    values, masked = window_values(recipe)
    win = recipe[2]
    total = (win[1] - win[0]) * (win[3] - win[2])
    return ndvi_statistics_from_values(values, total), masked


def joint_deltas(ndvi_a: np.ndarray, ndvi_b: np.ndarray) -> np.ndarray:
    """b − a over the pixels finite in both masked rasters, row-major within
    their common top-left window (reference: change_detection.py:64-80)."""
    min_h = min(ndvi_a.shape[0], ndvi_b.shape[0])
    min_w = min(ndvi_a.shape[1], ndvi_b.shape[1])
    ndvi_a = ndvi_a[:min_h, :min_w]
    ndvi_b = ndvi_b[:min_h, :min_w]
    valid = np.isfinite(ndvi_a) & np.isfinite(ndvi_b)
    return (ndvi_b - ndvi_a)[valid]


def delta_change(
    deltas: np.ndarray,
    pixel_area_ha: float,
    loss_threshold: float = -0.1,
    gain_threshold: float = 0.1,
) -> dict | None:
    """The change-metrics dict of a jointly-valid delta array — its
    ``native.stats_f32`` reductions and threshold counts (reference:
    change_detection.py:98-116); None when it is empty."""
    n_valid = len(deltas)
    if n_valid == 0:
        return None
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    mean, std, vmin, vmax, med_lo, med_hi, n_loss, n_gain = N.stats_f32(
        deltas, loss_threshold, gain_threshold
    )
    n_stable = n_valid - n_loss - n_gain
    return {
        "mean_delta": round(float(mean), 4),
        "median_delta": round(float(_median_of_pair(med_lo, med_hi, n_valid)), 4),
        "std_delta": round(float(std), 4),
        "min_delta": round(float(vmin), 4),
        "max_delta": round(float(vmax), 4),
        "loss_ha": round(n_loss * pixel_area_ha, 2),
        "gain_ha": round(n_gain * pixel_area_ha, 2),
        "stable_ha": round(n_stable * pixel_area_ha, 2),
        "total_ha": round(n_valid * pixel_area_ha, 2),
        "loss_pct": round(n_loss / n_valid * 100, 1),
        "gain_pct": round(n_gain / n_valid * 100, 1),
        "valid_pixels": n_valid,
    }


def change_stats(
    ndvi_a: np.ndarray,
    ndvi_b: np.ndarray,
    pixel_area_ha: float,
    loss_threshold: float = -0.1,
    gain_threshold: float = 0.1,
) -> dict | None:
    """Per-pixel change metrics over jointly-finite pixels
    (reference: change_detection.py:64-116 pure-python path)."""
    return delta_change(
        joint_deltas(ndvi_a, ndvi_b), pixel_area_ha, loss_threshold, gain_threshold
    )


def reproject_bilinear(
    src: np.ndarray,
    src_bbox: list[float],
    dst_bbox: list[float],
    dst_shape: tuple[int, int],
    src_crs: str = "EPSG:4326",
    dst_crs: str = "EPSG:4326",
) -> np.ndarray:
    """R5: continuous-band bilinear reprojection between north-up grids
    (the rasterio `reproject(..., Resampling.bilinear)` role, reference:
    fulfilment.py:321-354). Inverse mapping: each destination pixel centre is
    located in the source grid and sampled bilinearly; pixels outside the
    source coverage — and pixels whose 2×2 support touches NaN nodata —
    come out NaN, matching rasterio's nodata handling for float rasters.

    Same-CRS grids map affinely; differing CRSs transform the destination
    pixel centres into src_crs first, mirroring the reference — via pyproj
    when importable, else the vendored Karney transverse-Mercator
    (functions/tmerc.py, geographic↔UTM; the sandbox path). Other CRS
    families raise NotImplementedError — same upgrade rule as
    functions.geometry.transform_bbox."""
    sh, sw = src.shape
    dh, dw = dst_shape
    dpx = (dst_bbox[2] - dst_bbox[0]) / dw
    dpy = (dst_bbox[3] - dst_bbox[1]) / dh
    xs = dst_bbox[0] + (np.arange(dw) + 0.5) * dpx
    ys = dst_bbox[3] - (np.arange(dh) + 0.5) * dpy
    if src_crs != dst_crs:
        gx, gy = np.meshgrid(xs, ys)
        from azure_workflow_for_kml_satellite_spark.functions.geometry import (
            pyproj_import,
        )

        Transformer = pyproj_import("Transformer")
        if Transformer is not None:
            # only the IMPORT PROBE selects the fallback (a broken pyproj
            # must surface, not silently switch transforms)
            tr = Transformer.from_crs(dst_crs, src_crs, always_xy=True)
            gx, gy = tr.transform(gx, gy)
        else:
            from azure_workflow_for_kml_satellite_spark.functions.tmerc import (
                transform_grid_np,
            )

            gx, gy = transform_grid_np(gx, gy, dst_crs, src_crs)
    else:
        gx, gy = np.meshgrid(xs, ys)
    spx = (src_bbox[2] - src_bbox[0]) / sw
    spy = (src_bbox[3] - src_bbox[1]) / sh
    # coverage = destination centres inside the source bbox (edge pixels
    # sample with clamped support, like rasterio)
    inside = (
        (gx >= src_bbox[0]) & (gx <= src_bbox[2])
        & (gy >= src_bbox[1]) & (gy <= src_bbox[3])
    )
    # fractional source pixel coordinates of the destination centres
    fx = np.clip((gx - src_bbox[0]) / spx - 0.5, 0, sw - 1)
    fy = np.clip((src_bbox[3] - gy) / spy - 0.5, 0, sh - 1)
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    wx = (fx - x0).astype(np.float32)
    wy = (fy - y0).astype(np.float32)
    x0c = np.clip(x0, 0, sw - 1)
    y0c = np.clip(y0, 0, sh - 1)
    x1c = np.clip(x0 + 1, 0, sw - 1)
    y1c = np.clip(y0 + 1, 0, sh - 1)
    s = src.astype(np.float32, copy=False)
    v00 = s[y0c, x0c]
    v01 = s[y0c, x1c]
    v10 = s[y1c, x0c]
    v11 = s[y1c, x1c]
    out = (
        v00 * (1 - wx) * (1 - wy)
        + v01 * wx * (1 - wy)
        + v10 * (1 - wx) * wy
        + v11 * wx * wy
    )
    out[~inside] = np.nan
    return out
