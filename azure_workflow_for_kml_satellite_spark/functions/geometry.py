"""Geometry kernels (SURVEY.md §2.8 G1-G16).

Semantics replicate the reference's pure-Python geometry module
(reference: treesight/geo.py). pyproj is not available in this environment,
so geodesic area/perimeter use the reference's own documented fallback path
(spherical excess + haversine — treesight/geo.py:107-140); those fallbacks
ARE the canonical semantics for this engine and its oracle.

All coordinate pairs are [lon, lat].
"""

from __future__ import annotations

import math

from azure_workflow_for_kml_satellite_spark.constants import (
    EARTH_RADIUS_M,
    METRES_PER_DEGREE_LATITUDE,
    NDVI_THRESHOLDS,
)

Ring = list[list[float]]


def flatten_ring(ring: Ring) -> list[float]:
    """[[lon,lat],...] → [lon0,lat0,lon1,lat1,...]. Rings cross the Arrow
    boundary flattened: array<array<array<double>>> columns segfault
    pyarrow 16.1's arrow_to_pandas in this environment, so the engine caps
    nesting depth at 2 (flat exterior, list-of-flat-rings interior)."""
    return [c for pt in ring for c in pt[:2]]


def unflatten_ring(flat: list[float]) -> Ring:
    """Inverse of flatten_ring."""
    return [[flat[i], flat[i + 1]] for i in range(0, len(flat), 2)]


def compute_bbox(coords: Ring) -> list[float]:
    """Min/max bbox of a ring (reference: geo.py:45-50)."""
    if not coords:
        return [0.0, 0.0, 0.0, 0.0]
    lons = [c[0] for c in coords]
    lats = [c[1] for c in coords]
    return [min(lons), min(lats), max(lons), max(lats)]


def buffer_bbox(bbox: list[float], buffer_m: float) -> list[float]:
    """Expand bbox by buffer_m metres on every side (reference: geo.py:53-66)."""
    if buffer_m <= 0:
        return list(bbox)
    min_lon, min_lat, max_lon, max_lat = bbox
    lat_offset = buffer_m / METRES_PER_DEGREE_LATITUDE
    mid_lat = (min_lat + max_lat) / 2.0
    lon_offset = buffer_m / (METRES_PER_DEGREE_LATITUDE * math.cos(math.radians(mid_lat)))
    return [min_lon - lon_offset, min_lat - lat_offset, max_lon + lon_offset, max_lat + lat_offset]


# Cached `from pyproj import <name>` probe. Python does NOT cache FAILED
# imports, so the per-call `try: from pyproj import Geod` re-walked sys.path
# (5 find_spec + 5 stat calls) on EVERY feature — profiled at ~70% of the
# whole AOI-prep kernel in the round-8 pass. Probing once per process keeps
# the documented dispatch ("the primary path activates automatically when
# pyproj is importable"): availability cannot change within a worker.
_PYPROJ: dict[str, object] = {}


def pyproj_import(name: str):
    """pyproj attribute (e.g. "Geod", "Transformer") or None when pyproj
    is absent — the fallback-selection signal every call site keys on."""
    if name not in _PYPROJ:
        try:
            import importlib

            _PYPROJ[name] = getattr(importlib.import_module("pyproj"), name)
        except (ImportError, AttributeError):
            _PYPROJ[name] = None
    return _PYPROJ[name]


def haversine_km(lon1: float, lat1: float, lon2: float, lat2: float) -> float:
    """Haversine distance in km (reference: geo.py:222-228)."""
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = math.sin(dlat / 2) ** 2 + math.cos(rlat1) * math.cos(rlat2) * math.sin(dlon / 2) ** 2
    return (EARTH_RADIUS_M / 1_000) * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def haversine_perimeter_km(coords: Ring) -> float:
    """Ring perimeter via haversine segments (reference: geo.py:107-124)."""
    if len(coords) < 2:
        return 0.0
    ring = list(coords)
    if ring[0] != ring[-1]:
        ring.append(ring[0])
    total = 0.0
    for i in range(len(ring) - 1):
        lon1, lat1 = math.radians(ring[i][0]), math.radians(ring[i][1])
        lon2, lat2 = math.radians(ring[i + 1][0]), math.radians(ring[i + 1][1])
        dlat = lat2 - lat1
        dlon = lon2 - lon1
        a = math.sin(dlat / 2) ** 2 + math.cos(lat1) * math.cos(lat2) * math.sin(dlon / 2) ** 2
        c = 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
        total += EARTH_RADIUS_M * c
    return total / 1_000.0


def spherical_area_ha(coords: Ring) -> float:
    """Polygon area in hectares via spherical excess (reference: geo.py:127-140)."""
    n = len(coords)
    if n < 3:
        return 0.0
    total = 0.0
    for i in range(n):
        j = (i + 1) % n
        lon1, lat1 = math.radians(coords[i][0]), math.radians(coords[i][1])
        lon2, lat2 = math.radians(coords[j][0]), math.radians(coords[j][1])
        total += (lon2 - lon1) * (2 + math.sin(lat1) + math.sin(lat2))
    area_m2 = abs(total * EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0)
    return area_m2 / 10_000.0


def geodesic_area_and_perimeter(coords: Ring) -> tuple[float, float]:
    """(area_ha, perimeter_km). Mirrors reference geo.py:69-83 exactly:
    pyproj's Geod(WGS84).polygon_area_perimeter is the primary path, and the
    spherical-excess + haversine pair is the documented ImportError fallback.
    In this container pyproj is absent so the fallback runs; when pyproj is
    importable the primary path activates automatically (regenerate the
    expected-parquet oracles after an environment change — the sequential
    oracle upgrades the same way).

    The primary ELLIPSOIDAL semantics are still exercised in-container by
    the vendored WGS84 geodesic (functions/geodesic.py — Vincenty inverse +
    exact authalic equal-area mapping, validated against closed-form
    ellipsoid facts in tests/test_geodesic.py). It is intentionally NOT
    spliced into this dispatch: the reference's behaviour without pyproj is
    the spherical fallback, and the independent oracle can re-derive that
    bit-for-bit, which no second from-scratch geodesic implementation
    could."""
    if len(coords) < 3:
        return 0.0, 0.0
    Geod = pyproj_import("Geod")
    if Geod is not None:
        geod = Geod(ellps="WGS84")
        area_m2, perimeter_m = geod.polygon_area_perimeter(
            [c[0] for c in coords], [c[1] for c in coords]
        )
        return abs(area_m2) / 10_000.0, abs(perimeter_m) / 1_000.0
    return spherical_area_ha(coords), haversine_perimeter_km(coords)


def centroid(coords: Ring) -> list[float]:
    """Arithmetic vertex mean, closing point dropped (reference: geo.py:196-212)."""
    if not coords:
        return [0.0, 0.0]
    pts = coords if coords[0] != coords[-1] else coords[:-1]
    n = len(pts)
    if n == 0:
        return [0.0, 0.0]
    return [sum(c[0] for c in pts) / n, sum(c[1] for c in pts) / n]


def square_bbox(bbox: list[float], padding_pct: float = 10.0) -> list[float]:
    """Square display window containing bbox + padding (reference: geo.py:143-193)."""
    min_lon, min_lat, max_lon, max_lat = bbox
    mid_lat = (min_lat + max_lat) / 2.0
    mid_lon = (min_lon + max_lon) / 2.0
    lat_span_m = (max_lat - min_lat) * METRES_PER_DEGREE_LATITUDE
    lon_span_m = (max_lon - min_lon) * METRES_PER_DEGREE_LATITUDE * math.cos(math.radians(mid_lat))
    side_m = max(lat_span_m, lon_span_m) * (1 + padding_pct / 100.0)
    half_side_m = side_m / 2.0
    half_lat = half_side_m / METRES_PER_DEGREE_LATITUDE
    cos_lat = math.cos(math.radians(mid_lat))
    half_lon = half_side_m / (METRES_PER_DEGREE_LATITUDE * cos_lat) if cos_lat > 0 else half_lat
    return [mid_lon - half_lon, mid_lat - half_lat, mid_lon + half_lon, mid_lat + half_lat]


def ensure_closed(ring: Ring) -> Ring:
    """Close a ring in place if open and >=3 vertices (reference: parsers/__init__.py:14-22)."""
    if len(ring) >= 3 and ring[0] != ring[-1]:
        ring.append(list(ring[0]))
    return ring


def point_buffer_ring(lat: float, lon: float, buffer_m: float = 500.0, segments: int = 32) -> Ring:
    """32-segment circle approximation around a point, [lon,lat] output
    (reference: coordinate_parser.py:53-72)."""
    lat_offset = buffer_m / METRES_PER_DEGREE_LATITUDE
    lon_offset = buffer_m / (
        METRES_PER_DEGREE_LATITUDE * max(math.cos(math.radians(lat)), 1e-10)
    )
    ring: Ring = []
    for i in range(segments):
        angle = 2.0 * math.pi * i / segments
        ring.append(
            [
                round(lon + lon_offset * math.cos(angle), 8),
                round(lat + lat_offset * math.sin(angle), 8),
            ]
        )
    return ensure_closed(ring)


def point_in_ring(lon: float, lat: float, ring: Ring) -> bool:
    """Ray-casting point-in-polygon test over one ring (boundary-exclusive on
    the right edge; standard even-odd rule)."""
    inside = False
    n = len(ring)
    j = n - 1
    for i in range(n):
        xi, yi = ring[i][0], ring[i][1]
        xj, yj = ring[j][0], ring[j][1]
        if (yi > lat) != (yj > lat):
            x_int = (xj - xi) * (lat - yi) / (yj - yi) + xi
            if lon < x_int:
                inside = not inside
        j = i
    return inside


def point_in_polygon(lon: float, lat: float, exterior: Ring, holes: list[Ring] | None = None) -> bool:
    """Even-odd PIP with interior rings (holes subtract)."""
    if not point_in_ring(lon, lat, exterior):
        return False
    for hole in holes or []:
        if point_in_ring(lon, lat, hole):
            return False
    return True


def transform_bbox(bbox: list[float], src_crs: str, dst_crs: str) -> tuple[float, float, float, float]:
    """G4: bbox CRS reprojection (reference: geo.py:85-104 — two corner
    transforms, then re-min/maxed). Same-CRS is the identity short-circuit;
    a real transform uses pyproj when importable (mirroring the reference),
    falling back to the vendored Karney transverse-Mercator for the
    geographic↔UTM family (functions/tmerc.py) — the path exercised in this
    sandbox. Other CRS families raise NotImplementedError."""
    if src_crs == dst_crs:
        return (bbox[0], bbox[1], bbox[2], bbox[3])
    Transformer = pyproj_import("Transformer")
    if Transformer is not None:
        # only the IMPORT selects the fallback; a broken pyproj install
        # failing inside from_crs/transform must surface, not silently
        # switch transforms
        tr = Transformer.from_crs(src_crs, dst_crs, always_xy=True)
        x_min, y_min = tr.transform(bbox[0], bbox[1])
        x_max, y_max = tr.transform(bbox[2], bbox[3])
    else:
        from azure_workflow_for_kml_satellite_spark.functions.tmerc import (
            transform_point,
        )

        x_min, y_min = transform_point(bbox[0], bbox[1], src_crs, dst_crs)
        x_max, y_max = transform_point(bbox[2], bbox[3], src_crs, dst_crs)
    return (min(x_min, x_max), min(y_min, y_max), max(x_min, x_max), max(y_min, y_max))


def safe_name(name: str) -> str:
    """G16: artifact-path sanitization (reference: ingestion.py:168)."""
    return name.replace(" ", "_").replace("/", "_")


def crs_from_epsg_code(code: int | None, default: int = 32632) -> str:
    """G21: 'proj:epsg' → 'EPSG:n' (reference: planetary_computer.py:366-372)."""
    return f"EPSG:{code if code is not None else default}"


def compactness_index(area_ha: float, perimeter_km: float) -> float:
    """Polsby-Popper 4*pi*area/perimeter^2, 3dp (reference: aoi_metrics.py:289-295)."""
    if perimeter_km <= 0 or area_ha <= 0:
        return 0.0
    return round(4 * math.pi * (area_ha / 100) / perimeter_km**2, 3)


def bbox_width_km(bbox: list[float]) -> float:
    """East-west bbox extent in km (reference: aoi_metrics.py:298-305)."""
    if len(bbox) < 4:
        return 0.0
    min_lon, min_lat, max_lon, max_lat = bbox
    mid_lat = (min_lat + max_lat) / 2
    return abs(max_lon - min_lon) * (METRES_PER_DEGREE_LATITUDE / 1000.0) * math.cos(
        math.radians(mid_lat)
    )


def bbox_height_km(bbox: list[float]) -> float:
    """North-south bbox extent in km (reference: aoi_metrics.py:308-312)."""
    if len(bbox) < 4:
        return 0.0
    return abs(bbox[3] - bbox[1]) * (METRES_PER_DEGREE_LATITUDE / 1000.0)


def classify_ndvi(mean: float) -> str:
    """NDVI health label ladder (reference: aoi_metrics.py:36-48)."""
    if mean < NDVI_THRESHOLDS["bare_soil"]:
        return "bare_soil"
    if mean < NDVI_THRESHOLDS["sparse"]:
        return "sparse_vegetation"
    if mean < NDVI_THRESHOLDS["moderate"]:
        return "moderate_vegetation"
    if mean < NDVI_THRESHOLDS["healthy"]:
        return "healthy_vegetation"
    if mean < NDVI_THRESHOLDS["very_healthy"]:
        return "very_healthy_vegetation"
    return "dense_vegetation"


def max_span_m(coords: Ring) -> float:
    """Larger of lat/lon span in metres (reference: frames.py:46-57)."""
    if not coords:
        return 0.0
    lons = [c[0] for c in coords]
    lats = [c[1] for c in coords]
    mid_lat = (min(lats) + max(lats)) / 2.0
    lat_span_m = (max(lats) - min(lats)) * METRES_PER_DEGREE_LATITUDE
    lon_span_m = (max(lons) - min(lons)) * METRES_PER_DEGREE_LATITUDE * math.cos(
        math.radians(mid_lat)
    )
    return max(lat_span_m, lon_span_m)


def aoi_has_naip(coords: Ring) -> bool:
    """All vertices inside CONUS bounds (reference: frames.py:98-108)."""
    for c in coords:
        lon, lat = c[0], c[1]
        if lat < 24 or lat > 50 or lon < -125 or lon > -66:
            return False
    return True
