"""Deterministic synthetic data generator (seedless — pure hash of indices).

Builds the engine-specific tables described in FIXTURES.md:

- ``pages``    — Common-Crawl-style rows (url, warc_ts, html, text, lang)
  with a controlled fraction embedding KML/KMZ documents drawn from the
  reference's fixture shape catalog (reference: tests/fixtures/*.kml,
  docs/scale_baseline.md:26-34 for the 200-polygon "monster grid").
- ``scenes``   — STAC-style tile grid mirroring SearchResult
  (reference: treesight/models/imagery.py:67-92).
- ``frames``   — the frame-plan dimension (sources/frames.py).
- ``weather_daily`` / ``protected_areas`` / ``fire_events`` / ``regions`` —
  deterministic external-enrichment lookups (reference: enrichment/weather.py,
  pipeline/eudr.py:142-162, enrichment/fire.py).

Everything is a pure function of row indices (no RNG state), so generation
is order-independent and reproducible; written with pyarrow (no Spark
dependency — the generator is also used by the sequential oracle).
"""

from __future__ import annotations

import base64
import io
import zipfile
import zlib
from datetime import date, datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from azure_workflow_for_kml_satellite_spark.functions.kml import extract_text
from azure_workflow_for_kml_satellite_spark.sources.frames import all_frame_rows

# ── deterministic hashing ───────────────────────────────────────────────────

_MASK = (1 << 64) - 1


def _mix(*parts: int) -> int:
    """splitmix64 over combined integer parts — stable across processes."""
    z = 0x243F6A8885A308D3
    for p in parts:
        z = (z ^ (p & _MASK)) * 0x9E3779B97F4A7C15 & _MASK
    z = (z + 0x9E3779B97F4A7C15) & _MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
    return (z ^ (z >> 31)) & _MASK


# ── regions ─────────────────────────────────────────────────────────────────

REGIONS = [
    # name, anchor_lon, anchor_lat, half_span_deg
    ("kenya", 36.8, -1.3, 1.5),
    ("amazon", -60.0, -10.0, 1.5),
    ("conus", -100.0, 40.0, 1.5),
    ("europe", 5.0, 48.0, 1.5),
]

_WORDS = (
    "forest canopy satellite polygon boundary vegetation index seasonal "
    "archive crawl page analysis tile raster band cloud scene orbit pixel "
    "parcel survey monitor region data model report metric detect change"
).split()


# ── shape catalog (FIXTURES.md §2) ──────────────────────────────────────────


def _rect(lon: float, lat: float, w: float, h: float) -> list[list[float]]:
    return [
        [lon, lat],
        [lon + w, lat],
        [lon + w, lat + h],
        [lon, lat + h],
        [lon, lat],
    ]


def _coords_str(ring: list[list[float]]) -> str:
    return " ".join(f"{c[0]:.6f},{c[1]:.6f},0" for c in ring)


def _placemark(
    name: str,
    exterior: list[list[float]],
    holes: list[list[list[float]]] | None = None,
    metadata: dict[str, str] | None = None,
    extra_polygons: list[list[list[float]]] | None = None,
) -> str:
    ext_xml = ""
    if metadata:
        data = "".join(
            f"<Data name=\"{k}\"><value>{v}</value></Data>" for k, v in metadata.items()
        )
        ext_xml = f"<ExtendedData>{data}</ExtendedData>"
    polys = [(exterior, holes or [])]
    for p in extra_polygons or []:
        polys.append((p, []))
    poly_xml = ""
    for ext, hs in polys:
        inner = "".join(
            "<innerBoundaryIs><LinearRing><coordinates>"
            + _coords_str(h)
            + "</coordinates></LinearRing></innerBoundaryIs>"
            for h in hs
        )
        poly_xml += (
            "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
            + _coords_str(ext)
            + "</coordinates></LinearRing></outerBoundaryIs>"
            + inner
            + "</Polygon>"
        )
    if len(polys) > 1:
        poly_xml = f"<MultiGeometry>{poly_xml}</MultiGeometry>"
    return f"<Placemark><name>{name}</name>{ext_xml}{poly_xml}</Placemark>"


def _kml_doc(placemarks: list[str]) -> str:
    return (
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        + "".join(placemarks)
        + "</Document></kml>"
    )


def _region_for(i: int) -> tuple[str, float, float, float]:
    return REGIONS[_mix(i, 11) % len(REGIONS)]


def _anchor(i: int) -> tuple[float, float]:
    """Deterministic anchor point inside the page's region (±1.2°)."""
    name, lon, lat, half = _region_for(i)
    dx = ((_mix(i, 13) % 2400) / 1000.0) - 1.2
    dy = ((_mix(i, 17) % 2400) / 1000.0) - 1.2
    return round(lon + dx, 4), round(lat + dy, 4)


_KIND_TABLE: list[tuple[str, int]] = [
    ("none", 25),
    ("rect", 20),
    ("two_placemarks", 8),
    ("multi_polygon", 5),
    ("hole", 5),
    ("concave", 5),
    ("triangle", 5),
    ("tiny", 3),
    ("huge", 3),
    ("duplicate_names", 3),
    ("five_grid", 5),
    ("kmz_rect", 5),
    ("adjacent", 3),
    ("degenerate", 2),
    ("invalid_xml", 2),
]
_KIND_TOTAL = sum(w for _, w in _KIND_TABLE)


def page_kind(i: int) -> str:
    """Shape kind for page i. Every 500th-ish page is the 200-polygon monster
    grid (the hot-cell skew driver, docs/scale_baseline.md:26-34)."""
    if i % 500 == 7:
        return "monster"
    if i % 1000 == 13:
        return "mega"
    h = _mix(i, 23) % _KIND_TOTAL
    acc = 0
    for kind, w in _KIND_TABLE:
        acc += w
        if h < acc:
            return kind
    return "none"


def _monster_grid(lon0: float, lat0: float, n: int = 200) -> list[str]:
    """200 2x2km squares on a 0.05-degree grid (docs/scale_baseline.md:26-34),
    anchored at the amazon region like the reference fixture (-60, -10)."""
    side = 0.018  # ~2 km
    pms = []
    for k in range(n):
        r, c = divmod(k, 20)
        ring = _rect(lon0 + c * 0.05, lat0 + r * 0.05, side, side)
        pms.append(_placemark(f"Monster {k}", ring))
    return pms


def build_kml_for_page(i: int) -> tuple[str | None, bytes | None]:
    """Return (inline_kml, kmz_bytes) for page i; both None when no geometry."""
    kind = page_kind(i)
    lon, lat = _anchor(i)
    s = 0.01  # ~1.1 km square → golden area band 50-200 ha (test_geo.py:58-71)
    if kind == "none":
        return None, None
    if kind == "rect":
        meta = {"crop": "apple", "variety": "fuji"} if i % 3 == 0 else None
        return _kml_doc([_placemark(f"Field {i}", _rect(lon, lat, s, s), metadata=meta)]), None
    if kind == "two_placemarks":
        return (
            _kml_doc(
                [
                    _placemark(f"North {i}", _rect(lon, lat + 0.02, s, s)),
                    _placemark(f"South {i}", _rect(lon, lat, s, s)),
                ]
            ),
            None,
        )
    if kind == "multi_polygon":
        return (
            _kml_doc(
                [
                    _placemark(
                        f"Multi {i}",
                        _rect(lon, lat, s, s),
                        extra_polygons=[_rect(lon + 0.03, lat, s, s)],
                    )
                ]
            ),
            None,
        )
    if kind == "hole":
        hole = _rect(lon + 0.003, lat + 0.003, 0.004, 0.004)
        return _kml_doc([_placemark(f"Donut {i}", _rect(lon, lat, s, s), holes=[hole])]), None
    if kind == "concave":
        ring = [
            [lon, lat],
            [lon + s, lat],
            [lon + s, lat + s / 2],
            [lon + s / 2, lat + s / 2],
            [lon + s / 2, lat + s],
            [lon, lat + s],
            [lon, lat],
        ]
        return _kml_doc([_placemark(f"Lshape {i}", ring)]), None
    if kind == "triangle":
        ring = [[lon, lat], [lon + s, lat], [lon + s / 2, lat + s], [lon, lat]]
        return _kml_doc([_placemark(f"Tri {i}", ring)]), None
    if kind == "tiny":
        return _kml_doc([_placemark(f"Tiny {i}", _rect(lon, lat, 0.0002, 0.0002))]), None
    if kind == "huge":
        # ~11 km square → ~12 000 ha: above the 10 000 ha area-warning
        # threshold (reference: constants.py:28).
        return _kml_doc([_placemark(f"Huge {i}", _rect(lon, lat, 0.1, 0.1))]), None
    if kind == "mega":
        # ~28 km square → ~77 000 ha: above the 50 000 ha batch-routing
        # threshold (reference: constants.py:29, batch.py:28-30). Rare (1 per
        # 1000 pages) because its NDVI windows are ~8M pixels.
        return _kml_doc([_placemark(f"Mega {i}", _rect(lon, lat, 0.25, 0.25))]), None
    if kind == "duplicate_names":
        return (
            _kml_doc(
                [
                    _placemark("Duplicate", _rect(lon, lat, s, s)),
                    _placemark("Duplicate", _rect(lon + 0.05, lat, s, s)),
                ]
            ),
            None,
        )
    if kind == "five_grid":
        pms = [
            _placemark(f"Grid {i}-{k}", _rect(lon + (k % 3) * 0.02, lat + (k // 3) * 0.02, s, s))
            for k in range(5)
        ]
        return _kml_doc(pms), None
    if kind == "kmz_rect":
        kml = _kml_doc([_placemark(f"Zipped {i}", _rect(lon, lat, s, s))])
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("doc.kml", kml)
        return None, buf.getvalue()
    if kind == "adjacent":
        return (
            _kml_doc(
                [
                    _placemark(f"West {i}", _rect(lon, lat, s, s)),
                    _placemark(f"East {i}", _rect(lon + s, lat, s, s)),
                ]
            ),
            None,
        )
    if kind == "degenerate":
        # 2-vertex "polygon" → parser must skip it (lxml_parser.py:33-35),
        # plus one valid triangle so the page still yields a feature.
        bad = "<Placemark><name>Bad</name><Polygon><outerBoundaryIs><LinearRing>" \
            f"<coordinates>{lon:.6f},{lat:.6f},0 {lon + s:.6f},{lat:.6f},0</coordinates>" \
            "</LinearRing></outerBoundaryIs></Polygon></Placemark>"
        good = _placemark(f"Good {i}", [[lon, lat], [lon + s, lat], [lon, lat + s], [lon, lat]])
        return _kml_doc([bad, good]), None
    if kind == "invalid_xml":
        return "<kml xmlns=\"http://www.opengis.net/kml/2.2\"><Document><unclosed></kml>", None
    if kind == "monster":
        _, rlon, rlat, _half = REGIONS[1]
        return _kml_doc(_monster_grid(rlon, rlat)), None
    raise AssertionError(kind)


# ── pages table ─────────────────────────────────────────────────────────────


def _lorem(i: int, n: int) -> str:
    return " ".join(_WORDS[_mix(i, 31, k) % len(_WORDS)] for k in range(n))


_LANGS = ["en", "en", "en", "en", "en", "en", "en", "es", "de", "fr"]


def build_page(i: int) -> dict:
    url = f"https://example.org/page/{i:07d}"
    ts = datetime(2018, 1, 1) + timedelta(
        days=int(_mix(i, 37) % (8 * 365)), seconds=int(_mix(i, 41) % 86400)
    )
    kml, kmz = build_kml_for_page(i)
    body = f"<h1>Survey page {i}</h1><p>{_lorem(i, 24)}</p>"
    embedded = ""
    if kml is not None:
        embedded = kml
    if kmz is not None:
        embedded = (
            '<script type="application/vnd.kmz">'
            + base64.b64encode(kmz).decode("ascii")
            + "</script>"
        )
    html = (
        f"<html><head><title>Page {i}</title><style>p{{margin:0}}</style></head>"
        f"<body>{body}{embedded}<p>{_lorem(i + 1, 12)}</p></body></html>"
    ).encode("utf-8")
    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": extract_text(html),
        "lang": _LANGS[_mix(i, 43) % 10],
    }


def write_pages(out_dir: str | Path, n_pages: int) -> Path:
    rows = [build_page(i) for i in range(n_pages)]
    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    out = Path(out_dir) / "pages.parquet"
    # small row groups so Spark can split the file into parallel scan tasks
    pq.write_table(table, out, row_group_size=1024)
    return out


# ── scenes table ────────────────────────────────────────────────────────────

TILE_DEG = 0.5
COLLECTION_RES_M = {"sentinel-2-l2a": 10.0, "landsat-c2-l2": 30.0, "naip": 1.0}


def _region_tiles() -> list[tuple[float, float]]:
    """Lower-left corners of 0.5-degree tiles covering every region box,
    snapped to the global tile grid so tiles are unique."""
    seen: set[tuple[float, float]] = set()
    for _name, lon, lat, half in REGIONS:
        x0 = (lon - half) // TILE_DEG * TILE_DEG
        y0 = (lat - half) // TILE_DEG * TILE_DEG
        x = x0
        while x < lon + half:
            y = y0
            while y < lat + half:
                seen.add((round(x, 4), round(y, 4)))
                y = round(y + TILE_DEG, 4)
            x = round(x + TILE_DEG, 4)
    return sorted(seen)


def build_scene_rows() -> list[dict]:
    """One scene per (collection, tile, month-in-range); NAIP only on CONUS
    summers, no cloud property (reference: planetary_computer.py:51-52)."""
    tiles = _region_tiles()
    rows: list[dict] = []

    def _add(collection: str, x: float, y: float, year: int, month: int):
        tx, ty = int(round(x / TILE_DEG)), int(round(y / TILE_DEG))
        scene_id = f"{collection}_{tx}_{ty}_{year}{month:02d}"
        h = _mix(zlib.crc32(scene_id.encode()), 53)
        day = 1 + h % 28
        dt = datetime(year, month, day, h % 24, (h >> 8) % 60)
        cloud = None if collection == "naip" else ((h >> 16) % 100000) / 1000.0
        rows.append(
            {
                "scene_id": scene_id,
                "collection": collection,
                "datetime": dt,
                "cloud_cover": cloud,
                "resolution_m": COLLECTION_RES_M[collection],
                "crs": "EPSG:4326",
                "min_lon": x,
                "min_lat": y,
                "max_lon": round(x + TILE_DEG, 4),
                "max_lat": round(y + TILE_DEG, 4),
            }
        )

    conus = REGIONS[2]
    for x, y in tiles:
        for year in range(2018, 2027):
            for month in range(1, 13):
                if (year, month) > (2026, 8):
                    continue
                _add("sentinel-2-l2a", x, y, year, month)
        for year in range(2012, 2018):
            for month in range(1, 13):
                _add("landsat-c2-l2", x, y, year, month)
        in_conus = (
            conus[1] - conus[3] <= x <= conus[1] + conus[3]
            and conus[2] - conus[3] <= y <= conus[2] + conus[3]
        )
        if in_conus:
            for year in (2012, 2014, 2016, 2018, 2020, 2022, 2024):
                _add("naip", x, y, year, 7)
    return rows


def write_scenes(out_dir: str | Path) -> Path:
    rows = build_scene_rows()
    table = pa.table(
        {
            "scene_id": [r["scene_id"] for r in rows],
            "collection": [r["collection"] for r in rows],
            "datetime": pa.array([r["datetime"] for r in rows], pa.timestamp("us")),
            "cloud_cover": pa.array([r["cloud_cover"] for r in rows], pa.float64()),
            "resolution_m": [r["resolution_m"] for r in rows],
            "crs": [r["crs"] for r in rows],
            "min_lon": [r["min_lon"] for r in rows],
            "min_lat": [r["min_lat"] for r in rows],
            "max_lon": [r["max_lon"] for r in rows],
            "max_lat": [r["max_lat"] for r in rows],
        }
    )
    out = Path(out_dir) / "scenes.parquet"
    pq.write_table(table, out)
    return out


# ── dimension tables ────────────────────────────────────────────────────────


def write_frames(out_dir: str | Path) -> Path:
    rows = all_frame_rows()
    cols = {
        k: [r[k] for r in rows]
        for k in (
            "frame_id",
            "naip_variant",
            "year",
            "season",
            "start",
            "end",
            "collection",
            "asset",
            "is_naip",
            "ndvi_collection",
            "max_cloud",
        )
    }
    out = Path(out_dir) / "frames.parquet"
    pq.write_table(pa.table(cols), out)
    return out


def write_regions(out_dir: str | Path) -> Path:
    out = Path(out_dir) / "regions.parquet"
    pq.write_table(
        pa.table(
            {
                "region": [r[0] for r in REGIONS],
                "anchor_lon": [r[1] for r in REGIONS],
                "anchor_lat": [r[2] for r in REGIONS],
                "min_lon": [r[1] - r[3] for r in REGIONS],
                "min_lat": [r[2] - r[3] for r in REGIONS],
                "max_lon": [r[1] + r[3] for r in REGIONS],
                "max_lat": [r[2] + r[3] for r in REGIONS],
            }
        ),
        out,
    )
    return out


def write_weather(out_dir: str | Path) -> Path:
    """Open-Meteo-shaped daily rows per region with null gaps
    (reference: enrichment/weather.py:36-44; nulls per aoi_metrics.py:212-213)."""
    names, dates, temps, precips = [], [], [], []
    d0 = date(2013, 1, 1)
    n_days = (date(2026, 8, 31) - d0).days + 1
    for ridx, (name, _lon, lat, _half) in enumerate(REGIONS):
        for k in range(n_days):
            d = d0 + timedelta(days=k)
            h = _mix(ridx, k, 61)
            doy = d.timetuple().tm_yday
            seasonal = 15.0 - abs(doy - 182) / 182.0 * 20.0  # warm mid-year
            if lat < 0:
                seasonal = -seasonal
            temp = None if h % 37 == 0 else round(10.0 + seasonal + (h % 100) / 10.0, 1)
            p_h = _mix(ridx, k, 67)
            precip = (
                None
                if p_h % 41 == 0
                else (0.0 if p_h % 10 < 4 else round((p_h % 250) / 10.0, 1))
            )
            names.append(name)
            dates.append(d)
            temps.append(temp)
            precips.append(precip)
    out = Path(out_dir) / "weather_daily.parquet"
    pq.write_table(
        pa.table(
            {
                "region": names,
                "date": pa.array(dates, pa.date32()),
                "temp_c": pa.array(temps, pa.float64()),
                "precip_mm": pa.array(precips, pa.float64()),
            }
        ),
        out,
    )
    return out


def write_protected_areas(out_dir: str | Path) -> Path:
    """WDPA-like polygons, two per region (reference: eudr.py:142-162)."""
    rows = []
    for ridx, (name, lon, lat, _half) in enumerate(REGIONS):
        for k in range(2):
            w = 0.4 + 0.2 * k
            x0 = lon - 0.8 + k * 0.9
            y0 = lat - 0.5 + k * 0.4
            ring = _rect(x0, y0, w, w)
            rows.append(
                {
                    "wdpa_id": ridx * 10 + k,
                    "name": f"{name.title()} Reserve {k}",
                    "designation": "National Park" if k == 0 else "Nature Reserve",
                    "iucn_category": "II" if k == 0 else "IV",
                    "status": "Designated",
                    "country": name.upper()[:3],
                    "exterior": ring,
                    "min_lon": min(c[0] for c in ring),
                    "min_lat": min(c[1] for c in ring),
                    "max_lon": max(c[0] for c in ring),
                    "max_lat": max(c[1] for c in ring),
                }
            )
    out = Path(out_dir) / "protected_areas.parquet"
    pq.write_table(
        pa.table(
            {
                "wdpa_id": [r["wdpa_id"] for r in rows],
                "name": [r["name"] for r in rows],
                "designation": [r["designation"] for r in rows],
                "iucn_category": [r["iucn_category"] for r in rows],
                "status": [r["status"] for r in rows],
                "country": [r["country"] for r in rows],
                "exterior": pa.array(
                    [r["exterior"] for r in rows], pa.list_(pa.list_(pa.float64()))
                ),
                "min_lon": [r["min_lon"] for r in rows],
                "min_lat": [r["min_lat"] for r in rows],
                "max_lon": [r["max_lon"] for r in rows],
                "max_lat": [r["max_lat"] for r in rows],
            }
        ),
        out,
    )
    return out


def write_fire_events(out_dir: str | Path) -> Path:
    """FIRMS-shaped rows (reference: enrichment/fire.py:96-107)."""
    rows = []
    conf = ["l", "n", "h"]
    for ridx, (name, lon, lat, half) in enumerate(REGIONS):
        for k in range(80):
            h = _mix(ridx, k, 71)
            rows.append(
                {
                    "latitude": round(lat - half + (h % 3000) / 1000.0, 5),
                    "longitude": round(lon - half + ((h >> 12) % 3000) / 1000.0, 5),
                    "acq_date": (date(2021, 1, 1) + timedelta(days=(h >> 24) % 1400)).isoformat(),
                    "acq_time": f"{(h >> 40) % 24:02d}{(h >> 48) % 60:02d}",
                    "confidence": conf[h % 3],
                    "frp": round((h % 5000) / 100.0, 2),
                    "bright_ti4": round(300.0 + (h % 700) / 10.0, 1),
                    "region": name,
                }
            )
    out = Path(out_dir) / "fire_events.parquet"
    pq.write_table(pa.table({k: [r[k] for r in rows] for k in rows[0]}), out)
    return out


def write_flood_gauges(out_dir: str | Path) -> Path:
    """EA/USGS-shaped river gauges (reference: flood.py:35-163): UK gauges
    near the europe region edge + US gauges near conus. A synthetic UK
    cluster is added at (-2.0, 52.0) so the EA routing path has data."""
    rows = []
    anchors = [("usgs", -100.0, 40.0, 3.0, 60), ("ea", -2.0, 52.0, 2.0, 40)]
    for src, lon, lat, half, n in anchors:
        for k in range(n):
            h = _mix(zlib.crc32(src.encode()), k, 83)
            rows.append(
                {
                    "station_id": f"{src}-{k:04d}",
                    "source": src,
                    "longitude": round(lon - half + (h % int(half * 2000)) / 1000.0, 5),
                    "latitude": round(lat - half + ((h >> 16) % int(half * 2000)) / 1000.0, 5),
                    "river": f"River {chr(65 + h % 26)}",
                    "level_m": round((h % 900) / 100.0, 2),
                }
            )
    out = Path(out_dir) / "flood_gauges.parquet"
    pq.write_table(pa.table({k: [r[k] for r in rows] for k in rows[0]}), out)
    return out


def write_utm_scenes(out_dir: str | Path) -> Path:
    """UTM-grid dimension for the sentinel scenes: each scene's native
    projected grid (the reference's scenes carry a 'proj:epsg' and every
    windowed read happens on that UTM grid after the AOI bbox is
    transformed into it, fulfilment.py:264-271). The projected bbox is the
    min/max of the four transformed tile corners, snapped OUTWARD to whole
    10 m pixels so the grid origin is an exact pixel boundary."""
    import math as _m

    from azure_workflow_for_kml_satellite_spark.functions import tmerc

    rows = []
    for r in build_scene_rows():
        if r["collection"] != "sentinel-2-l2a":
            continue
        clon = (r["min_lon"] + r["max_lon"]) / 2.0
        clat = (r["min_lat"] + r["max_lat"]) / 2.0
        epsg = tmerc.utm_epsg_for(clon, clat)
        zone, north = tmerc.parse_utm_epsg(epsg)
        corners = [
            (r["min_lon"], r["min_lat"]),
            (r["min_lon"], r["max_lat"]),
            (r["max_lon"], r["min_lat"]),
            (r["max_lon"], r["max_lat"]),
        ]
        pts = [tmerc.utm_forward(lo, la, zone, north) for lo, la in corners]
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        rows.append(
            {
                "scene_id": r["scene_id"],
                "epsg": epsg,
                "u_min_e": _m.floor(min(xs) / 10.0) * 10.0,
                "u_min_n": _m.floor(min(ys) / 10.0) * 10.0,
                "u_max_e": _m.ceil(max(xs) / 10.0) * 10.0,
                "u_max_n": _m.ceil(max(ys) / 10.0) * 10.0,
                "u_res_m": 10.0,
            }
        )
    out = Path(out_dir) / "utm_scenes.parquet"
    pq.write_table(pa.table({k: [r[k] for r in rows] for k in rows[0]}), out)
    return out


def write_coord_requests(out_dir: str | Path) -> Path:
    """Pasted-coordinate requests (reference EP2 input shape,
    coordinate_parser.py): single points, point pairs, polygons, and the
    parser's documented error classes — deterministic, no rng."""
    rows = []
    for i in range(40):
        h = _mix(97, i, 11)
        lat = round(-80.0 + (h % 160000) / 1000.0, 6)
        lon = round(-179.0 + ((h >> 13) % 358000) / 1000.0, 6)
        kind = i % 8
        if kind in (0, 1, 2):  # single point
            text = f"{lat}, {lon}"
        elif kind == 3:  # two points, mixed separators
            text = f"{lat};{lon}\n{round(lat + 0.01, 6)}\t{round(lon + 0.02, 6)}"
        elif kind == 4:  # polygon with comments + blank lines
            pts = [
                (round(lat + dy, 6), round(lon + dx, 6))
                for dy, dx in ((0, 0), (0.03, 0.0), (0.03, 0.04), (0.0, 0.04))
            ]
            text = "# boundary\n" + "\n".join(f"{a}, {b}" for a, b in pts) + "\n"
        elif kind == 5:  # latitude out of range
            text = f"{91.0 + i}, {lon}"
        elif kind == 6:  # unparseable line
            text = f"{lat}, {lon}\nnot coordinates at all"
        else:  # longitude out of range
            text = f"{lat}, {181.5}"
        rows.append({"source": f"req{i:03d}", "coords_text": text})
    rows.append({"source": "req_empty", "coords_text": "   \n# only comments\n"})
    rows.append(
        {
            "source": "req_too_many",
            "coords_text": "\n".join("1.0, 2.0" for _ in range(501)),
        }
    )
    out = Path(out_dir) / "coord_requests.parquet"
    pq.write_table(pa.table({k: [r[k] for r in rows] for k in rows[0]}), out)
    return out


def write_csv_points(out_dir: str | Path) -> Path:
    """CSV-shaped point rows for the S6 fuzzy-column parser: headers that
    exercise case-insensitive + prefix matching ('Label'/'LATITUDE'/'lng'),
    nulls (name fallback + unparseable coordinate), and range errors."""
    rows = []
    for i in range(25):
        h = _mix(131, i, 7)
        lat = round(-80.0 + (h % 160000) / 1000.0, 6)
        lon = round(-179.0 + ((h >> 13) % 358000) / 1000.0, 6)
        label = f"site-{i:02d}" if i % 5 else None  # null name → fallback
        if i % 9 == 4:
            lat = 95.0 + i  # out of range → per-row error
        rows.append({"Label": label, "LATITUDE": lat, "lng": lon})
    rows.append({"Label": "null-lat", "LATITUDE": None, "lng": 10.0})
    out = Path(out_dir) / "csv_points.parquet"
    pq.write_table(
        pa.table(
            {
                "Label": pa.array([r["Label"] for r in rows], pa.string()),
                "LATITUDE": pa.array([r["LATITUDE"] for r in rows], pa.float64()),
                "lng": pa.array([r["lng"] for r in rows], pa.float64()),
            }
        ),
        out,
    )
    return out


# ── top-level ───────────────────────────────────────────────────────────────

SF_PAGES = {"sf0.001": 300, "sf0.01": 3000, "sf0.1": 30000, "sf1": 300000, "sf10": 3000000}


def generate_sf(data_root: str | Path, sf: str) -> Path:
    out_dir = Path(data_root) / sf
    out_dir.mkdir(parents=True, exist_ok=True)
    write_pages(out_dir, SF_PAGES[sf])
    write_scenes(out_dir)
    write_frames(out_dir)
    write_regions(out_dir)
    write_weather(out_dir)
    write_protected_areas(out_dir)
    write_fire_events(out_dir)
    write_flood_gauges(out_dir)
    write_coord_requests(out_dir)
    write_csv_points(out_dir)
    write_utm_scenes(out_dir)
    return out_dir
