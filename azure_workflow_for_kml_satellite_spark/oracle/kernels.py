"""Independent oracle kernels — a second, from-scratch implementation of the
numeric/parsing contracts used by the sequential oracle.

The engine's kernels live in ``functions/`` (scratch-buffer numpy tuned for
executor hot paths).  This module re-derives the SAME mathematical contracts
as plain straight-line code — fresh temporaries, explicit loops, its own XML
traversal — and is imported ONLY by ``oracle/sequential.py``.  A bug in an
engine kernel therefore no longer passes both sides of the correctness gate
(round-1 ADVICE: de-self-referee the expected-parquet oracles).

Bit-for-bit parity with the engine is part of each contract, so the
*arithmetic expression order* follows the reference's published expressions
(cited per function); the code sharing is zero.

Reference anchors: treesight/geo.py, treesight/pipeline/ndvi.py,
change_detection.py, enrichment/aoi_metrics.py, parsers/lxml_parser.py,
providers/stub.py.
"""

from __future__ import annotations

import base64
import math
import re
import zipfile
from io import BytesIO
from xml.etree import ElementTree as ET

import numpy as np

from azure_workflow_for_kml_satellite_spark.constants import (
    EARTH_RADIUS_M,
    LANDSAT_QA_CLOUD_BITS,
    MAX_KMZ_COMPRESSION_RATIO,
    MAX_KMZ_DECOMPRESSED_BYTES,
    MAX_KMZ_FILE_COUNT,
    METRES_PER_DEGREE_LATITUDE,
    NDVI_THRESHOLDS,
    VALID_SCL_CLASSES,
)

# ═════════════════════════════ geometry ═════════════════════════════════════
# Contracts: reference treesight/geo.py (spherical-excess + haversine fallback
# path, geo.py:107-140; bbox/centroid geo.py:45-66, 196-212).


def bbox_of(ring):
    """[min_lon, min_lat, max_lon, max_lat] of [[lon,lat],...]."""
    if not ring:
        return [0.0, 0.0, 0.0, 0.0]
    min_lon = min_lat = float("inf")
    max_lon = max_lat = float("-inf")
    for pt in ring:
        if pt[0] < min_lon:
            min_lon = pt[0]
        if pt[0] > max_lon:
            max_lon = pt[0]
        if pt[1] < min_lat:
            min_lat = pt[1]
        if pt[1] > max_lat:
            max_lat = pt[1]
    return [min_lon, min_lat, max_lon, max_lat]


def expand_bbox_m(bbox, buffer_m):
    """Buffer a bbox by metres (reference geo.py:53-66; expression order kept
    for bit parity: lon offset divides by the product M*cos(mid_lat))."""
    if buffer_m <= 0:
        return list(bbox)
    mid_lat = (bbox[1] + bbox[3]) / 2.0
    dlat = buffer_m / METRES_PER_DEGREE_LATITUDE
    dlon = buffer_m / (METRES_PER_DEGREE_LATITUDE * math.cos(math.radians(mid_lat)))
    return [bbox[0] - dlon, bbox[1] - dlat, bbox[2] + dlon, bbox[3] + dlat]


def vertex_mean(ring):
    """Arithmetic vertex mean, closing vertex dropped (geo.py:196-212)."""
    if not ring:
        return [0.0, 0.0]
    pts = ring[:-1] if (len(ring) > 1 and ring[0] == ring[-1]) else ring
    if not pts:
        return [0.0, 0.0]
    sx = 0.0
    sy = 0.0
    for pt in pts:
        sx += pt[0]
        sy += pt[1]
    return [sx / len(pts), sy / len(pts)]


def ring_perimeter_km(ring):
    """Haversine perimeter, ring closed if open (geo.py:107-124)."""
    if len(ring) < 2:
        return 0.0
    pts = list(ring)
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    total_m = 0.0
    for k in range(len(pts) - 1):
        lon1 = math.radians(pts[k][0])
        lat1 = math.radians(pts[k][1])
        lon2 = math.radians(pts[k + 1][0])
        lat2 = math.radians(pts[k + 1][1])
        dlat = lat2 - lat1
        dlon = lon2 - lon1
        a = math.sin(dlat / 2) ** 2 + math.cos(lat1) * math.cos(lat2) * math.sin(dlon / 2) ** 2
        total_m += EARTH_RADIUS_M * (2 * math.atan2(math.sqrt(a), math.sqrt(1 - a)))
    return total_m / 1_000.0


def ring_area_ha(ring):
    """Spherical-excess polygon area in hectares (geo.py:127-140)."""
    n = len(ring)
    if n < 3:
        return 0.0
    acc = 0.0
    for k in range(n):
        m = (k + 1) % n
        lon1 = math.radians(ring[k][0])
        lat1 = math.radians(ring[k][1])
        lon2 = math.radians(ring[m][0])
        lat2 = math.radians(ring[m][1])
        acc += (lon2 - lon1) * (2 + math.sin(lat1) + math.sin(lat2))
    return abs(acc * EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0) / 10_000.0


def area_and_perimeter(ring):
    """(area_ha, perimeter_km) — reference geo.py:69-83 contract: pyproj Geod
    primary, spherical + haversine on ImportError (same upgrade rule as the
    engine kernel, so both sides always run the same path)."""
    if len(ring) < 3:
        return 0.0, 0.0
    try:
        from pyproj import Geod

        a_m2, p_m = Geod(ellps="WGS84").polygon_area_perimeter(
            [pt[0] for pt in ring], [pt[1] for pt in ring]
        )
        return abs(a_m2) / 10_000.0, abs(p_m) / 1_000.0
    except ImportError:
        return ring_area_ha(ring), ring_perimeter_km(ring)


def pip_even_odd(lon, lat, ring):
    """Even-odd ray-cast point-in-ring (standard algorithm; x-intersection
    expression kept identical for boundary bit parity)."""
    n = len(ring)
    hit = False
    for i in range(n):
        j = i - 1 if i else n - 1
        xi, yi = ring[i][0], ring[i][1]
        xj, yj = ring[j][0], ring[j][1]
        if (yi > lat) != (yj > lat):
            if lon < (xj - xi) * (lat - yi) / (yj - yi) + xi:
                hit = not hit
    return hit


def span_m(ring):
    """max(lat span, lon span) in metres (reference frames.py:46-57)."""
    if not ring:
        return 0.0
    bb = bbox_of(ring)
    mid_lat = (bb[1] + bb[3]) / 2.0
    lat_span = (bb[3] - bb[1]) * METRES_PER_DEGREE_LATITUDE
    lon_span = (bb[2] - bb[0]) * METRES_PER_DEGREE_LATITUDE * math.cos(math.radians(mid_lat))
    return max(lat_span, lon_span)


def inside_conus(ring):
    """All vertices within CONUS NAIP bounds (reference frames.py:98-108)."""
    for pt in ring:
        if not (24 <= pt[1] <= 50 and -125 <= pt[0] <= -66):
            return False
    return True


def ndvi_health_label(mean):
    """NDVI class ladder (reference aoi_metrics.py:36-48)."""
    for label, key in (
        ("bare_soil", "bare_soil"),
        ("sparse_vegetation", "sparse"),
        ("moderate_vegetation", "moderate"),
        ("healthy_vegetation", "healthy"),
        ("very_healthy_vegetation", "very_healthy"),
    ):
        if mean < NDVI_THRESHOLDS[key]:
            return label
    return "dense_vegetation"


# ═════════════════════════════ KML parsing ══════════════════════════════════
# Contracts: reference parsers/__init__.py:14-114, parsers/lxml_parser.py.
# Independent traversal; quirks preserved: only the OGC 2.2 namespace is
# searched by the parser (validation accepts legacy Google namespaces, whose
# documents then parse to zero features), default names count already-emitted
# features, feature_index is per-document emit order.

_NS22 = "{http://www.opengis.net/kml/2.2}"
_OK_NAMESPACES = frozenset(
    {
        "http://www.opengis.net/kml/2.2",
        "http://earth.google.com/kml/2.2",
        "http://earth.google.com/kml/2.1",
        "http://earth.google.com/kml/2.0",
    }
)
_WS_BYTES = b" \t\n\r\x0b\x0c"


def find_kml_payloads(html: bytes) -> list[bytes]:
    """Locate embedded KML/KMZ payloads by manual byte scanning (contract of
    the engine's regex extractor: first ``</kml>`` after ``<kml[\\s>]``;
    base64 KMZ inside ``<script type="application/vnd.kmz">``)."""
    docs: list[bytes] = []
    pos = 0
    while True:
        i = html.find(b"<kml", pos)
        if i < 0:
            break
        nxt = html[i + 4 : i + 5]
        if nxt and (nxt in b">" or nxt in _WS_BYTES):
            end = html.find(b"</kml>", i)
            if end >= 0:
                docs.append(html[i : end + 6])
                pos = end + 6
                continue
        pos = i + 4
    open_tag = b'<script type="application/vnd.kmz">'
    pos = 0
    while True:
        i = html.find(open_tag, pos)
        if i < 0:
            break
        end = html.find(b"</script>", i)
        if end < 0:
            break
        try:
            docs.append(base64.b64decode(html[i + len(open_tag) : end].strip()))
        except Exception:
            pass
        pos = end + 9
    return docs


def unzip_kmz(data: bytes) -> bytes:
    """KMZ extraction + zip-bomb guards (reference parsers/__init__.py:37-82)."""
    if data[:4] != b"PK\x03\x04":
        return data
    with zipfile.ZipFile(BytesIO(data)) as zf:
        infos = zf.infolist()
        if len(infos) > MAX_KMZ_FILE_COUNT:
            raise ValueError(
                f"KMZ file count {len(infos)} exceeds limit of {MAX_KMZ_FILE_COUNT}"
            )
        for info in infos:
            if info.file_size > MAX_KMZ_DECOMPRESSED_BYTES:
                raise ValueError(
                    f"Decompressed size of '{info.filename}' ({info.file_size:,} bytes) "
                    f"exceeds limit of {MAX_KMZ_DECOMPRESSED_BYTES:,} bytes"
                )
            if info.compress_size > 0 and (
                info.file_size / info.compress_size > MAX_KMZ_COMPRESSION_RATIO
            ):
                raise ValueError(
                    f"Compression ratio of '{info.filename}' "
                    f"({info.file_size / info.compress_size:.0f}:1) "
                    f"exceeds limit of {MAX_KMZ_COMPRESSION_RATIO}:1"
                )
        names = zf.namelist()
        if "doc.kml" in names:
            return zf.read("doc.kml")
        for name in names:
            if name.lower().endswith(".kml"):
                return zf.read(name)
    raise ValueError("KMZ archive contains no .kml file")


def check_kml(data: bytes) -> None:
    """DOCTYPE ban + well-formedness + namespace allow-list
    (reference parsers/__init__.py:88-114). Scans the first 4096 bytes for a
    DOCTYPE marker case-insensitively, like the engine's regex."""
    head = data[:4096].upper()
    if b"<!DOCTYPE" in head:
        raise ValueError(
            "KML contains a DOCTYPE declaration — DTD/entity declarations are not permitted"
        )
    try:
        root = ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"Malformed XML: {exc}") from exc
    ns = root.tag[1:].split("}", 1)[0] if root.tag[:1] == "{" else ""
    if ns not in _OK_NAMESPACES:
        raise ValueError(f"Root element namespace '{ns}' is not a recognised KML namespace")


def _coords_from_text(text: str) -> list[list[float]]:
    """'lon,lat[,alt] lon,lat ...' → [[lon,lat],...]; bad tokens skipped
    (reference lxml_parser.py:76-87)."""
    pts = []
    for tok in text.split():
        fields = tok.split(",")
        if len(fields) < 2:
            continue
        try:
            pts.append([float(fields[0]), float(fields[1])])
        except ValueError:
            continue
    return pts


def _close_ring(ring):
    if len(ring) >= 3 and ring[0] != ring[-1]:
        ring.append(list(ring[0]))
    return ring


def parse_kml_features(data: bytes, source_file: str = "") -> list[dict]:
    """KML → feature dicts (reference lxml_parser.py:17-73). Placemarks and
    polygons in document order; exterior rings with <3 vertices skipped;
    rings closed; metadata from ExtendedData/Data[@name]/value."""
    root = ET.fromstring(data)
    feats: list[dict] = []
    for pm in root.iter(_NS22 + "Placemark"):
        name_el = pm.find(_NS22 + "name")
        name = (name_el.text or "").strip() if name_el is not None else ""
        desc_el = pm.find(_NS22 + "description")
        desc = (desc_el.text or "").strip() if desc_el is not None else ""
        meta: dict[str, str] = {}
        ext_el = pm.find(_NS22 + "ExtendedData")
        if ext_el is not None:
            for d in ext_el.findall(_NS22 + "Data"):
                key = d.get("name", "")
                v = d.find(_NS22 + "value")
                if key and v is not None and v.text:
                    meta[key] = v.text
        for poly in pm.iter(_NS22 + "Polygon"):
            outer_el = poly.find(
                _NS22 + "outerBoundaryIs/" + _NS22 + "LinearRing/" + _NS22 + "coordinates"
            )
            exterior = (
                _coords_from_text(outer_el.text)
                if outer_el is not None and outer_el.text
                else []
            )
            if len(exterior) < 3:
                continue
            holes = []
            for inner_el in poly.findall(
                _NS22 + "innerBoundaryIs/" + _NS22 + "LinearRing/" + _NS22 + "coordinates"
            ):
                if inner_el.text:
                    ring = _coords_from_text(inner_el.text)
                    if ring:
                        holes.append(_close_ring(ring))
            feats.append(
                {
                    "name": name or f"Unnamed Feature {len(feats)}",
                    "description": desc,
                    "exterior_coords": _close_ring(exterior),
                    "interior_coords": holes,
                    "crs": "EPSG:4326",
                    "metadata": meta,
                    "source_file": source_file,
                    "feature_index": len(feats),
                }
            )
    return feats


# ═════════════════════ synthetic raster field + kernels ═════════════════════
# The synthetic pixel field is DEFINED as murmur3-fmix32 over
# (seed ^ band*0x27D4EB2F, row*0x85EBCA6B ^ col*0xC2B2AE35) with the band
# value tables below; this is a from-scratch evaluation of that definition
# (plain expressions, fresh temporaries — the engine uses scratch buffers).

_FMIX_C1 = np.uint32(0x85EBCA6B)
_FMIX_C2 = np.uint32(0xC2B2AE35)

PX_DEG_PER_M = 1.0 / 111_320.0

_SCL_LUT = np.array([9, 8, 3, 4, 5, 6, 2, 4, 5, 4], dtype=np.uint8)
_QA_LUT = np.array([2, 8, 16, 0, 0, 0, 0, 0, 0, 0], dtype=np.uint16)
_CLASS_LUT = np.array([10, 10, 10, 20, 30, 40, 50, 60, 80, 95], dtype=np.uint8)

RED, NIR, SCL, QA, CLASS = 1, 2, 3, 4, 5


def seed_of(scene_id: str) -> int:
    import zlib as _z

    return _z.crc32(scene_id.encode("utf-8")) & 0xFFFFFFFF


def pixel_hash(seed: int, band: int, row0: int, row1: int, col0: int, col1: int) -> np.ndarray:
    """fmix32 field for an absolute pixel window (window-placement pure)."""
    rows = np.arange(row0, row1, dtype=np.uint32) * _FMIX_C1
    cols = np.arange(col0, col1, dtype=np.uint32) * _FMIX_C2
    h = rows[:, None] ^ cols[None, :]
    h = h ^ np.uint32((int(seed) ^ (int(band) * 0x27D4EB2F)) & 0xFFFFFFFF)
    h = h ^ (h >> np.uint32(16))
    h = h * _FMIX_C1
    h = h ^ (h >> np.uint32(13))
    h = h * _FMIX_C2
    h = h ^ (h >> np.uint32(16))
    return h


def band_pixels(seed: int, band: int, window) -> np.ndarray:
    """Band values for a window, straight-line from the field definition."""
    row0, row1, col0, col1 = window
    h = pixel_hash(seed, band, row0, row1, col0, col1)
    if band == RED:
        vals = (((h >> np.uint32(8)) % np.uint32(1200)) + np.uint32(300)).astype(np.uint16)
        vals[h % np.uint32(97) == 0] = 0
        return vals
    if band == NIR:
        r13 = np.arange(row0, row1, dtype=np.uint32) * np.uint32(13)
        c7 = np.arange(col0, col1, dtype=np.uint32) * np.uint32(7)
        veg = (
            (r13[:, None] + c7[None, :] + np.uint32(int(seed) % 1000)) % np.uint32(100)
        ) * np.uint32(55)
        vals = (
            ((h >> np.uint32(8)) % np.uint32(900)) + veg + np.uint32(400)
        ).astype(np.uint16)
        vals[h % np.uint32(101) == 0] = 0
        return vals
    if band in (SCL, QA, CLASS):
        idx = h % np.uint32(10)
        if band == SCL:
            return _SCL_LUT[idx]
        if band == QA:
            return _QA_LUT[idx]
        out = _CLASS_LUT[idx]
        out[h % np.uint32(53) == 0] = 0
        return out
    raise ValueError(f"unknown band code {band}")


def raster_shape(bbox, resolution_m):
    px = resolution_m * PX_DEG_PER_M
    return (
        max(1, int(round((bbox[3] - bbox[1]) / px))),
        max(1, int(round((bbox[2] - bbox[0]) / px))),
    )


def clamp_window(scene_bbox, resolution_m, read_bbox):
    """Pixel window of read_bbox in the scene grid, clamped; floor/ceil so any
    touched pixel is included (rasterio from_bounds role, ndvi.py:474-478)."""
    px = resolution_m * PX_DEG_PER_M
    h, w = raster_shape(scene_bbox, resolution_m)
    c0 = max(0, min(w, int(math.floor((read_bbox[0] - scene_bbox[0]) / px))))
    c1 = max(0, min(w, int(math.ceil((read_bbox[2] - scene_bbox[0]) / px))))
    r0 = max(0, min(h, int(math.floor((scene_bbox[3] - read_bbox[3]) / px))))
    r1 = max(0, min(h, int(math.ceil((scene_bbox[3] - read_bbox[1]) / px))))
    if c1 <= c0 or r1 <= r0:
        return None
    return r0, r1, c0, c1


def fetch_window_bands(scene_id, scene_bbox, resolution_m, read_bbox, collection):
    """Synthetic COG windowed read: S2 red/nir + half-res SCL, Landsat
    red/nir/QA (reference ndvi.py:463-484 windowing semantics)."""
    seed = seed_of(scene_id)
    win = clamp_window(scene_bbox, resolution_m, read_bbox)
    if win is None:
        return None
    bands = {"red": band_pixels(seed, RED, win), "nir": band_pixels(seed, NIR, win)}
    if collection == "sentinel-2-l2a":
        scl_win = clamp_window(scene_bbox, resolution_m * 2, read_bbox)
        if scl_win is not None:
            bands["scl"] = band_pixels(seed, SCL, scl_win)
    elif collection == "landsat-c2-l2":
        bands["qa"] = band_pixels(seed, QA, win)
    return bands


def fetch_class_window(layer_name, read_bbox, resolution_m):
    """Global classification mosaic window, anchored at (-180, +90)."""
    px = resolution_m * PX_DEG_PER_M
    c0 = int(math.floor((read_bbox[0] + 180.0) / px))
    c1 = int(math.ceil((read_bbox[2] + 180.0) / px))
    r0 = int(math.floor((90.0 - read_bbox[3]) / px))
    r1 = int(math.ceil((90.0 - read_bbox[1]) / px))
    if c1 <= c0 or r1 <= r0:
        return None
    return band_pixels(seed_of(layer_name), CLASS, (r0, r1, c0, c1))


def nn_resample(src: np.ndarray, shape) -> np.ndarray:
    """Nearest-neighbour categorical resample, pixel-centre mapping
    (reference ndvi.py:487-510)."""
    if src.shape == tuple(shape):
        return src
    ri = np.rint((np.arange(shape[0]) + 0.5) * (src.shape[0] / shape[0]) - 0.5).astype(int)
    ci = np.rint((np.arange(shape[1]) + 0.5) * (src.shape[1] / shape[1]) - 0.5).astype(int)
    return src[np.ix_(np.clip(ri, 0, src.shape[0] - 1), np.clip(ci, 0, src.shape[1] - 1))]


def _trim_pair(a, b):
    mh = min(a.shape[0], b.shape[0])
    mw = min(a.shape[1], b.shape[1])
    return a[:mh, :mw], b[:mh, :mw]


def _ndvi_and_valid(red_raw, nir_raw):
    """The reference's literal expression (ndvi.py:206-211):
    ndvi = where(denom>0, (nir-red)/denom, nan) in float32;
    valid = red_raw>0 & nir_raw>0 & isfinite(ndvi)."""
    red = red_raw.astype(np.float32)
    nir = nir_raw.astype(np.float32)
    denom = nir + red
    with np.errstate(divide="ignore", invalid="ignore"):
        ndvi = np.where(denom > 0, (nir - red) / denom, np.float32(np.nan))
    valid = (red_raw > 0) & (nir_raw > 0) & np.isfinite(ndvi)
    return ndvi, valid


def s2_ndvi(red_raw, nir_raw, scl):
    """S2 NDVI + SCL masking (reference ndvi.py:158-215)."""
    if red_raw.shape != nir_raw.shape:
        red_raw, nir_raw = _trim_pair(red_raw, nir_raw)
    ndvi, valid = _ndvi_and_valid(red_raw, nir_raw)
    masked = 0
    if scl is not None:
        scl_ok = np.isin(nn_resample(scl, red_raw.shape), VALID_SCL_CLASSES)
        masked = int(np.sum(valid & ~scl_ok))
        valid = valid & scl_ok
    return ndvi, valid, masked


def landsat_ndvi(red_raw, nir_raw, qa):
    """Landsat NDVI + QA_PIXEL cloud-bit masking (reference ndvi.py:376-411)."""
    if red_raw.shape != nir_raw.shape:
        red_raw, nir_raw = _trim_pair(red_raw, nir_raw)
    ndvi, valid = _ndvi_and_valid(red_raw, nir_raw)
    masked = 0
    if qa is not None:
        if qa.shape != red_raw.shape:
            qa = nn_resample(qa, red_raw.shape)
        qa_ok = (qa.astype(np.uint16) & np.uint16(LANDSAT_QA_CLOUD_BITS)) == 0
        masked = int(np.sum(valid & ~qa_ok))
        valid = valid & qa_ok
    return ndvi, valid, masked


def ndvi_stats(ndvi, valid):
    """Rounded summary stats over valid pixels (reference ndvi.py:217-236)."""
    v = ndvi[valid]
    if v.size == 0:
        return None
    return {
        "mean": round(float(np.mean(v)), 4),
        "min": round(float(np.min(v)), 4),
        "max": round(float(np.max(v)), 4),
        "std": round(float(np.std(v)), 4),
        "median": round(float(np.median(v)), 4),
        "valid_pixels": int(v.size),
        "total_pixels": int(ndvi.size),
    }


def delta_stats(ndvi_a, ndvi_b, pixel_area_ha, loss_threshold=-0.1, gain_threshold=0.1):
    """Per-pixel change metrics over jointly-finite pixels
    (reference change_detection.py:64-116)."""
    ndvi_a, ndvi_b = _trim_pair(ndvi_a, ndvi_b)
    both = np.isfinite(ndvi_a) & np.isfinite(ndvi_b)
    if not both.any():
        return None
    deltas = (ndvi_b - ndvi_a)[both]
    n_valid = int(both.sum())
    n_loss = int((deltas < loss_threshold).sum())
    n_gain = int((deltas > gain_threshold).sum())
    n_stable = n_valid - n_loss - n_gain
    return {
        "mean_delta": round(float(np.mean(deltas)), 4),
        "median_delta": round(float(np.median(deltas)), 4),
        "std_delta": round(float(np.std(deltas)), 4),
        "min_delta": round(float(np.min(deltas)), 4),
        "max_delta": round(float(np.max(deltas)), 4),
        "loss_ha": round(n_loss * pixel_area_ha, 2),
        "gain_ha": round(n_gain * pixel_area_ha, 2),
        "stable_ha": round(n_stable * pixel_area_ha, 2),
        "total_ha": round(n_valid * pixel_area_ha, 2),
        "loss_pct": round(n_loss / n_valid * 100, 1) if n_valid else 0.0,
        "gain_pct": round(n_gain / n_valid * 100, 1) if n_valid else 0.0,
        "valid_pixels": n_valid,
    }


def class_counts(classes: np.ndarray) -> list[dict]:
    """Histogram excluding nodata 0, sorted (-count, code), area_pct 2dp
    (reference eudr.py:773-843)."""
    flat = classes.ravel()
    flat = flat[flat != 0]
    total = int(flat.size)
    if total == 0:
        return []
    codes, counts = np.unique(flat, return_counts=True)
    rows = sorted(
        (
            {"class_code": int(v), "pixel_count": int(c),
             "area_pct": round(100.0 * int(c) / total, 2)}
            for v, c in zip(codes, counts)
        ),
        key=lambda r: (-r["pixel_count"], r["class_code"]),
    )
    return rows


# ═════════════════════════ per-AOI metric kernels ═══════════════════════════


def trend_of(frame_means) -> dict:
    """NDVI trend over [(frame_id, mean-or-None),...] in frame order
    (reference aoi_metrics.py:51-122). Sequential left-to-right accumulation,
    matching the contract's Python-sum semantics."""
    valid = [(fid, m) for fid, m in frame_means if m is not None]
    n = len(valid)
    if n < 2:
        latest = valid[0][1] if valid else None
        return {
            "direction": "insufficient_data",
            "observations": n,
            "slope_per_frame": None,
            "earliest_mean": None,
            "latest_mean": latest,
            "overall_change": None,
            "overall_change_pct": None,
            "max_consecutive_drop": None,
            "max_drop_frame_id": None,
            "coefficient_of_variation": None,
            "mean_ndvi": None,
            "std_ndvi": None,
            "health_class": ndvi_health_label(latest) if latest is not None else "unknown",
        }
    ys = [m for _, m in valid]
    x_mean = (n - 1) / 2.0
    y_acc = 0.0
    for y in ys:
        y_acc += y
    y_mean = y_acc / n
    num = 0.0
    den = 0.0
    for i in range(n):
        num += (i - x_mean) * (ys[i] - y_mean)
        den += (i - x_mean) ** 2
    slope = num / den if den != 0 else 0.0
    direction = (
        "stable" if abs(slope) < 0.002 else ("improving" if slope > 0 else "declining")
    )
    max_drop = 0.0
    max_drop_fid = -1
    for i in range(1, n):
        d = ys[i - 1] - ys[i]
        if d > max_drop:
            max_drop = d
            max_drop_fid = valid[i][0]
    var_acc = 0.0
    for y in ys:
        var_acc += (y - y_mean) ** 2
    std = math.sqrt(var_acc / n) if n > 1 else 0.0
    cv = std / y_mean if y_mean > 0 else 0.0
    change = ys[-1] - ys[0]
    return {
        "direction": direction,
        "observations": n,
        "slope_per_frame": round(slope, 5),
        "earliest_mean": round(ys[0], 4),
        "latest_mean": round(ys[-1], 4),
        "overall_change": round(change, 4),
        "overall_change_pct": round(change / ys[0] * 100, 1) if ys[0] else 0.0,
        "max_consecutive_drop": round(max_drop, 4),
        "max_drop_frame_id": max_drop_fid,
        "coefficient_of_variation": round(cv, 3),
        "mean_ndvi": round(y_mean, 4),
        "std_ndvi": round(std, 4),
        "health_class": ndvi_health_label(ys[-1]),
    }


def rollup_changes(mean_deltas, loss_has, gain_has) -> dict:
    """Season-change rollup (reference change_detection.py:244-259)."""
    loss_acc = 0.0
    for v in loss_has:
        loss_acc += v
    gain_acc = 0.0
    for v in gain_has:
        gain_acc += v
    out = {
        "comparisons": len(mean_deltas),
        "total_loss_ha": round(loss_acc, 2),
        "total_gain_ha": round(gain_acc, 2),
    }
    if mean_deltas:
        d_acc = 0.0
        for v in mean_deltas:
            d_acc += v
        avg = d_acc / len(mean_deltas)
        out["avg_mean_delta"] = round(avg, 4)
        out["trajectory"] = (
            "Improving" if avg > 0.02 else "Declining" if avg < -0.02 else "Stable"
        )
    else:
        out["avg_mean_delta"] = None
        out["trajectory"] = "Insufficient data"
    return out


# ── independent visible-text extraction ─────────────────────────────────────
#
# Second implementation of the public extraction rule (drop script/style/kml
# subtrees, strip tags, collapse whitespace) for the per-url byte-identity
# gate. Deliberately a find()-based scanner, NOT the regex pipeline the
# engine and page generator share (functions/kml.extract_text) — so the two
# sides only agree if both implement the rule correctly.

_RE_WORD = re.compile(r"\w")


def _is_word_char(ch: str) -> bool:
    """Exactly the regex \\w class (Unicode word chars), so the scanner's
    '<tag\\b' boundary matches the engine regex on non-ASCII input too."""
    return _RE_WORD.fullmatch(ch) is not None


def _drop_regions(s: str, tag: str) -> str:
    """Remove every '<tag\\b ... </tag>' region (lazy close, case-sensitive,
    unclosed openers left alone) — the semantics of the documented rule."""
    out = []
    i = 0
    open_pat = "<" + tag
    close_pat = "</" + tag + ">"
    while True:
        j = s.find(open_pat, i)
        while j != -1:
            after = s[j + len(open_pat) : j + len(open_pat) + 1]
            if after and _is_word_char(after):  # not a word boundary
                j = s.find(open_pat, j + 1)
                continue
            k = s.find(close_pat, j + len(open_pat))
            if k == -1:  # unclosed: this opener can never match
                j = s.find(open_pat, j + 1)
                continue
            break
        if j == -1:
            out.append(s[i:])
            break
        out.append(s[i:j])
        out.append(" ")
        i = k + len(close_pat)
    return "".join(out)


def _strip_tags(s: str) -> str:
    """Replace every '<' + one-or-more-non-'>' + '>' span with a space
    ('<>' and unclosed '<' stay literal)."""
    out = []
    i = 0
    while True:
        j = s.find("<", i)
        if j == -1:
            out.append(s[i:])
            break
        k = s.find(">", j + 1)
        if k == -1:  # no closing '>' anywhere ahead: nothing more can match
            out.append(s[i:])
            break
        if k == j + 1:  # '<>' has no inner chars — not a tag
            out.append(s[i : j + 1])
            i = j + 1
            continue
        out.append(s[i:j])
        out.append(" ")
        i = k + 1
    return "".join(out)


def visible_text(html: bytes) -> str:
    s = html.decode("utf-8", errors="replace")
    for tag in ("script", "style", "kml"):
        s = _drop_regions(s, tag)
    return " ".join(_strip_tags(s).split())


# ── independent coordinate-text parser (S5 oracle) ──────────────────────────
#
# Second implementation of the pasted-coordinates rule for the q_coord_text
# gate: a hand tokenizer instead of the engine's single regex, and its own
# circle construction. Error strings, circle math and ring layout are the
# public reference semantics (coordinate_parser.py), so both sides must
# reproduce them exactly to agree.

_COORD_MAX_ROWS = 500
_METRES_PER_DEG_LAT = 111_320.0
_RE_DIGIT = re.compile(r"\d")


def _is_re_digit(ch: str) -> bool:
    """Exactly the regex \\d class (Unicode Nd) — str.isdigit() is wider
    (it also accepts No characters like '\u00b2' that float() rejects)."""
    return _RE_DIGIT.fullmatch(ch) is not None


def _scan_number(line: str, i: int) -> tuple[float, int] | None:
    """Parse [+-]?digits(.digits)? starting at i; None if not that shape."""
    n = len(line)
    j = i
    if j < n and line[j] in "+-":
        j += 1
    d0 = j
    while j < n and _is_re_digit(line[j]):
        j += 1
    if j == d0:
        return None
    if j < n and line[j] == ".":
        j += 1
        f0 = j
        while j < n and _is_re_digit(line[j]):
            j += 1
        if j == f0:
            return None
    return float(line[i:j]), j


def _parse_pair_line(line: str) -> tuple[float, float] | None:
    """One 'lat SEP lon' line. The documented shape: optional whitespace,
    number, a separator gap (whitespace-padded single ',' or ';', or
    whitespace containing at least one space/tab), number, optional
    whitespace. Returns None when the line doesn't have that shape."""
    n = len(line)
    i = 0
    while i < n and line[i].isspace():
        i += 1
    first = _scan_number(line, i)
    if first is None:
        return None
    lat, i = first

    def gap_ok(gap: str) -> bool:
        seps = [p for p, ch in enumerate(gap) if ch in ",;"]
        if len(seps) > 1:
            return False
        if len(seps) == 1:
            p = seps[0]
            rest = gap[:p] + gap[p + 1 :]
        else:
            # no ',' or ';': a space or tab must act as the separator
            if not any(ch in " \t" for ch in gap):
                return False
            rest = gap
        return all(ch.isspace() for ch in rest)

    # try every viable lon start (the regex backtracks the same way)
    for k in range(i, n + 1):
        second = _scan_number(line, k)
        if second is None:
            continue
        lon, j = second
        if all(ch.isspace() for ch in line[j:]) and gap_ok(line[i:k]):
            return lat, lon
    return None


def _circle_ring(lat: float, lon: float, buffer_m: float = 500.0) -> list[float]:
    """32-segment buffer circle, flattened [lon0, lat0, lon1, lat1, ...]
    with closure — the reference construction (coordinate_parser.py:53-72)."""
    lat_off = buffer_m / _METRES_PER_DEG_LAT
    lon_off = buffer_m / (_METRES_PER_DEG_LAT * max(math.cos(math.radians(lat)), 1e-10))
    flat: list[float] = []
    for i in range(32):
        ang = 2.0 * math.pi * i / 32
        flat.append(round(lon + lon_off * math.cos(ang), 8))
        flat.append(round(lat + lat_off * math.sin(ang), 8))
    flat.append(flat[0])
    flat.append(flat[1])
    return flat


def parse_coordinate_request(source: str, text: str) -> list[dict]:
    """(source, pasted text) → feature dicts or a single error dict, the
    oracle side of q_coord_text."""
    pairs: list[tuple[float, float]] = []
    err = None
    for line in text.strip().splitlines():
        line = line.strip()
        if not line or line[0] == "#":
            continue
        got = _parse_pair_line(line)
        if got is None:
            err = f"Cannot parse coordinate line: {line!r}"
            break
        lat, lon = got
        if not -90.0 <= lat <= 90.0:
            err = f"Latitude {lat} out of range [-90, 90]"
            break
        if not -180.0 <= lon <= 180.0:
            err = f"Longitude {lon} out of range [-180, 180]"
            break
        pairs.append((lat, lon))
    if err is None and not pairs:
        err = "No coordinates found in input"
    if err is None and len(pairs) > _COORD_MAX_ROWS:
        err = f"Too many coordinates ({len(pairs)}); maximum is {_COORD_MAX_ROWS}"
    if err is not None:
        return [{"source": source, "feature_index": None, "name": None,
                 "exterior": None, "error": err}]
    out = []
    if len(pairs) <= 2:
        for i, (lat, lon) in enumerate(pairs):
            out.append(
                {
                    "source": source,
                    "feature_index": i,
                    "name": f"Point ({lat:.6f}, {lon:.6f})",
                    "exterior": _circle_ring(lat, lon),
                    "error": None,
                }
            )
    else:
        flat: list[float] = []
        for lat, lon in pairs:
            flat.extend((lon, lat))
        if flat[:2] != flat[-2:]:
            flat.extend(flat[:2])
        out.append(
            {
                "source": source,
                "feature_index": 0,
                "name": "Coordinate polygon",
                "exterior": flat,
                "error": None,
            }
        )
    return out


# ── independent CSV point parser (S6 oracle) ────────────────────────────────

_CSV_LAT_CANDS = ("lat", "latitude", "y")
_CSV_LON_CANDS = ("lon", "lng", "long", "longitude", "x")
_CSV_NAME_CANDS = ("name", "label", "id", "title")


def _match_csv_column(columns: list[str], cands: tuple[str, ...]) -> str | None:
    """Fuzzy header match: exact (case/space-insensitive) first in
    candidate-priority order, then prefix in column order. Columns whose
    lowered names collide keep the LAST original (the documented
    keyed-lookup semantics), with first-seen key order."""
    lowered: dict[str, str] = {}
    for c in columns:
        lowered[c.lower().strip()] = c
    for cand in cands:
        if cand in lowered:
            return lowered[cand]
    for low, orig in lowered.items():
        if any(low.startswith(cand) for cand in cands):
            return orig
    return None


def parse_csv_points(columns: list[str], records: list[dict], source: str = "csv") -> list[dict]:
    """Independent S6 semantics: fuzzy lat/lon/name columns, per-row float
    parse + range validation, buffer-circle features with name fallback."""
    lat_c = _match_csv_column(columns, _CSV_LAT_CANDS)
    lon_c = _match_csv_column(columns, _CSV_LON_CANDS)
    name_c = _match_csv_column(columns, _CSV_NAME_CANDS)
    if not lat_c or not lon_c:
        raise ValueError(f"CSV must contain lat/lon columns; got {columns}")
    out: list[dict] = []
    for i, rec in enumerate(records):
        try:
            # a null in a floating-point column surfaces as NaN on the
            # engine's Arrow→pandas path, and NaN fails the range check
            lat_raw, lon_raw = rec[lat_c], rec[lon_c]
            lat = float("nan") if lat_raw is None else float(lat_raw)
            lon = float("nan") if lon_raw is None else float(lon_raw)
            if not (-90 <= lat <= 90 and -180 <= lon <= 180):
                raise ValueError(f"coordinates out of range: {lat},{lon}")
        except (TypeError, ValueError) as exc:
            out.append({"source": source, "feature_index": None, "name": None,
                        "exterior": None, "error": str(exc)})
            continue
        nm = (
            str(rec[name_c])
            if name_c and rec.get(name_c) is not None
            else f"Point ({lat:.6f}, {lon:.6f})"
        )
        out.append(
            {
                "source": source,
                "feature_index": i,
                "name": nm,
                "exterior": _circle_ring(lat, lon),
                "error": None,
            }
        )
    return out


# ═══════════════════════ transverse Mercator (UTM) ══════════════════════════
# Contract: functions/tmerc.py (vendored Karney 2011 Krüger series, order 6;
# the reference reaches the same transform through pyproj, geo.py:85-104).
# This is a fresh straight-line transcription of the same published series —
# same term order as the publication, zero code sharing with the engine.

_TM_A = 6378137.0
_TM_F = 1.0 / 298.257223563
_TM_E = math.sqrt(_TM_F * (2.0 - _TM_F))
_tm_n = _TM_F / (2.0 - _TM_F)
_tm_n2 = _tm_n * _tm_n
_tm_n3 = _tm_n2 * _tm_n
_tm_n4 = _tm_n3 * _tm_n
_tm_n5 = _tm_n4 * _tm_n
_tm_n6 = _tm_n5 * _tm_n

_TM_RADIUS = (_TM_A / (1.0 + _tm_n)) * (
    1.0 + _tm_n2 / 4.0 + _tm_n4 / 64.0 + _tm_n6 / 256.0
)

_TM_ALPHA = [
    _tm_n / 2.0 - 2.0 * _tm_n2 / 3.0 + 5.0 * _tm_n3 / 16.0 + 41.0 * _tm_n4 / 180.0
    - 127.0 * _tm_n5 / 288.0 + 7891.0 * _tm_n6 / 37800.0,
    13.0 * _tm_n2 / 48.0 - 3.0 * _tm_n3 / 5.0 + 557.0 * _tm_n4 / 1440.0
    + 281.0 * _tm_n5 / 630.0 - 1983433.0 * _tm_n6 / 1935360.0,
    61.0 * _tm_n3 / 240.0 - 103.0 * _tm_n4 / 140.0 + 15061.0 * _tm_n5 / 26880.0
    + 167603.0 * _tm_n6 / 181440.0,
    49561.0 * _tm_n4 / 161280.0 - 179.0 * _tm_n5 / 168.0
    + 6601661.0 * _tm_n6 / 7257600.0,
    34729.0 * _tm_n5 / 80640.0 - 3418889.0 * _tm_n6 / 1995840.0,
    212378941.0 * _tm_n6 / 319334400.0,
]

_TM_BETA = [
    _tm_n / 2.0 - 2.0 * _tm_n2 / 3.0 + 37.0 * _tm_n3 / 96.0 - _tm_n4 / 360.0
    - 81.0 * _tm_n5 / 512.0 + 96199.0 * _tm_n6 / 604800.0,
    _tm_n2 / 48.0 + _tm_n3 / 15.0 - 437.0 * _tm_n4 / 1440.0 + 46.0 * _tm_n5 / 105.0
    - 1118711.0 * _tm_n6 / 3870720.0,
    17.0 * _tm_n3 / 480.0 - 37.0 * _tm_n4 / 840.0 - 209.0 * _tm_n5 / 4480.0
    + 5569.0 * _tm_n6 / 90720.0,
    4397.0 * _tm_n4 / 161280.0 - 11.0 * _tm_n5 / 504.0 - 830251.0 * _tm_n6 / 7257600.0,
    4583.0 * _tm_n5 / 161280.0 - 108847.0 * _tm_n6 / 3991680.0,
    20648693.0 * _tm_n6 / 638668800.0,
]

_TM_DELTA = [
    2.0 * _tm_n - 2.0 * _tm_n2 / 3.0 - 2.0 * _tm_n3 + 116.0 * _tm_n4 / 45.0
    + 26.0 * _tm_n5 / 45.0 - 2854.0 * _tm_n6 / 675.0,
    7.0 * _tm_n2 / 3.0 - 8.0 * _tm_n3 / 5.0 - 227.0 * _tm_n4 / 45.0
    + 2704.0 * _tm_n5 / 315.0 + 2323.0 * _tm_n6 / 945.0,
    56.0 * _tm_n3 / 15.0 - 136.0 * _tm_n4 / 35.0 - 1262.0 * _tm_n5 / 105.0
    + 73814.0 * _tm_n6 / 2835.0,
    4279.0 * _tm_n4 / 630.0 - 332.0 * _tm_n5 / 35.0 - 399572.0 * _tm_n6 / 14175.0,
    4174.0 * _tm_n5 / 315.0 - 144838.0 * _tm_n6 / 6237.0,
    601676.0 * _tm_n6 / 22275.0,
]


def tm_forward(lon, lat, zone, north):
    """Geographic degrees → UTM metres (Karney 2011 eqs. 7-11)."""
    lon0 = zone * 6.0 - 183.0
    lam = math.radians(lon - lon0)
    if lam > math.pi:
        lam = lam - 2.0 * math.pi
    elif lam <= -math.pi:
        lam = lam + 2.0 * math.pi
    phi = math.radians(lat)
    s = math.sin(phi)
    tau_prime = math.sinh(math.atanh(s) - _TM_E * math.atanh(_TM_E * s))
    cos_lam = math.cos(lam)
    xi0 = math.atan2(tau_prime, cos_lam)
    eta0 = math.asinh(math.sin(lam) / math.hypot(tau_prime, cos_lam))
    xi = xi0
    eta = eta0
    for k in range(6):
        two_j = 2.0 * (k + 1)
        xi = xi + _TM_ALPHA[k] * math.sin(two_j * xi0) * math.cosh(two_j * eta0)
        eta = eta + _TM_ALPHA[k] * math.cos(two_j * xi0) * math.sinh(two_j * eta0)
    east = 500000.0 + 0.9996 * _TM_RADIUS * eta
    nrth = 0.9996 * _TM_RADIUS * xi
    if not north:
        nrth = nrth + 10000000.0
    return east, nrth


def tm_inverse(east, nrth, zone, north):
    """UTM metres → geographic degrees (Karney 2011 eqs. 20-26)."""
    y = nrth if north else nrth - 10000000.0
    xi = y / (0.9996 * _TM_RADIUS)
    eta = (east - 500000.0) / (0.9996 * _TM_RADIUS)
    xi0 = xi
    eta0 = eta
    for k in range(6):
        two_j = 2.0 * (k + 1)
        xi0 = xi0 - _TM_BETA[k] * math.sin(two_j * xi) * math.cosh(two_j * eta)
        eta0 = eta0 - _TM_BETA[k] * math.cos(two_j * xi) * math.sinh(two_j * eta)
    chi = math.asin(math.sin(xi0) / math.cosh(eta0))
    phi = chi
    for k in range(6):
        two_j = 2.0 * (k + 1)
        phi = phi + _TM_DELTA[k] * math.sin(two_j * chi)
    lam = math.atan2(math.sinh(eta0), math.cos(xi0))
    return zone * 6.0 - 183.0 + math.degrees(lam), math.degrees(phi)


def tm_bbox_to_utm(bbox, zone, north):
    """Two-corner bbox transform, re-min/maxed (geometry.transform_bbox
    contract, reference geo.py:85-104)."""
    x0, y0 = tm_forward(bbox[0], bbox[1], zone, north)
    x1, y1 = tm_forward(bbox[2], bbox[3], zone, north)
    lo_x, hi_x = (x0, x1) if x0 <= x1 else (x1, x0)
    lo_y, hi_y = (y0, y1) if y0 <= y1 else (y1, y0)
    return (lo_x, lo_y, hi_x, hi_y)


def raster_shape_m(bbox_m, resolution_m):
    """Projected-grid raster shape (pixel size in CRS metres)."""
    return (
        max(1, int(round((bbox_m[3] - bbox_m[1]) / resolution_m))),
        max(1, int(round((bbox_m[2] - bbox_m[0]) / resolution_m))),
    )


def clamp_window_m(scene_bbox_m, resolution_m, read_bbox_m):
    """Metric-grid window clamp (contract: raster.window_from_bounds_m)."""
    px = resolution_m
    h, w = raster_shape_m(scene_bbox_m, resolution_m)
    c0 = max(0, min(w, int(math.floor((read_bbox_m[0] - scene_bbox_m[0]) / px))))
    c1 = max(0, min(w, int(math.ceil((read_bbox_m[2] - scene_bbox_m[0]) / px))))
    r0 = max(0, min(h, int(math.floor((scene_bbox_m[3] - read_bbox_m[3]) / px))))
    r1 = max(0, min(h, int(math.ceil((scene_bbox_m[3] - read_bbox_m[1]) / px))))
    if c1 <= c0 or r1 <= r0:
        return None
    return r0, r1, c0, c1


def fetch_window_bands_utm(scene_id, scene_bbox_m, resolution_m, read_bbox_m):
    """UTM-grid sentinel windowed read (contract: raster.read_window_bands_utm;
    seed salted with ':utm' — distinct raster content from the geographic
    variant)."""
    seed = seed_of(scene_id + ":utm")
    win = clamp_window_m(scene_bbox_m, resolution_m, read_bbox_m)
    if win is None:
        return None
    bands = {"red": band_pixels(seed, RED, win), "nir": band_pixels(seed, NIR, win)}
    scl_win = clamp_window_m(scene_bbox_m, resolution_m * 2, read_bbox_m)
    if scl_win is not None:
        bands["scl"] = band_pixels(seed, SCL, scl_win)
    return bands


def warp_utm_to_geographic(src, src_bbox_m, zone, north, dst_bbox_deg, dst_shape):
    """Straight-line inverse-mapped bilinear warp from a UTM grid to a
    geographic destination grid (contract: raster.reproject_bilinear with
    src_crs=UTM, dst_crs=EPSG:4326 — same clamp/weight/NaN semantics, the
    destination centres transformed per-point with tm_forward)."""
    sh, sw = src.shape
    dh, dw = dst_shape
    step_x = (dst_bbox_deg[2] - dst_bbox_deg[0]) / dw
    step_y = (dst_bbox_deg[3] - dst_bbox_deg[1]) / dh
    lons = [dst_bbox_deg[0] + (i + 0.5) * step_x for i in range(dw)]
    lats = [dst_bbox_deg[3] - (i + 0.5) * step_y for i in range(dh)]
    gx = np.empty((dh, dw), dtype=np.float64)
    gy = np.empty((dh, dw), dtype=np.float64)
    for r in range(dh):
        for c in range(dw):
            ex, ny = tm_forward(lons[c], lats[r], zone, north)
            gx[r, c] = ex
            gy[r, c] = ny
    spx = (src_bbox_m[2] - src_bbox_m[0]) / sw
    spy = (src_bbox_m[3] - src_bbox_m[1]) / sh
    inside = (
        (gx >= src_bbox_m[0]) & (gx <= src_bbox_m[2])
        & (gy >= src_bbox_m[1]) & (gy <= src_bbox_m[3])
    )
    fx = np.clip((gx - src_bbox_m[0]) / spx - 0.5, 0, sw - 1)
    fy = np.clip((src_bbox_m[3] - gy) / spy - 0.5, 0, sh - 1)
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    wx = (fx - x0).astype(np.float32)
    wy = (fy - y0).astype(np.float32)
    x0c = np.clip(x0, 0, sw - 1)
    y0c = np.clip(y0, 0, sh - 1)
    x1c = np.clip(x0 + 1, 0, sw - 1)
    y1c = np.clip(y0 + 1, 0, sh - 1)
    s32 = src.astype(np.float32, copy=False)
    v00 = s32[y0c, x0c]
    v01 = s32[y0c, x1c]
    v10 = s32[y1c, x0c]
    v11 = s32[y1c, x1c]
    out = (
        v00 * (1 - wx) * (1 - wy)
        + v01 * wx * (1 - wy)
        + v10 * (1 - wx) * wy
        + v11 * wx * wy
    )
    out[~inside] = np.nan
    return out
