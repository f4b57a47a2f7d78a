"""Discrete global grid cell index (the H3/S2 role in SURVEY.md §2.3 J1).

Neither h3 nor s2 bindings are installed in this environment, so the engine
uses its own deterministic equal-angle grid: at resolution ``r`` a cell is a
square of ``360 / 2**r`` degrees. Cell ids are int64:

    id = (r << 52) | (ix << 26) | iy

where ix = floor((lon+180)/size), iy = floor((lat+90)/size). This keeps the
engine's joins pure equi-joins on a long key — exactly the discipline an H3
polyfill would give — while remaining reproducible everywhere. Antimeridian
wrapping is intentionally NOT handled, replicating the reference's documented
lenient behavior (reference: tests/test_geo.py:300-317).
"""

from __future__ import annotations

from azure_workflow_for_kml_satellite_spark.constants import DEFAULT_CELL_RES


def cell_size_deg(res: int = DEFAULT_CELL_RES) -> float:
    return 360.0 / (1 << res)


def cell_of(lon: float, lat: float, res: int = DEFAULT_CELL_RES) -> int:
    """Cell id containing a point."""
    size = cell_size_deg(res)
    ix = int((lon + 180.0) // size)
    iy = int((lat + 90.0) // size)
    ix = max(0, min(ix, (1 << res) - 1))
    iy = max(0, min(iy, (1 << res) - 1))
    return (res << 52) | (ix << 26) | iy


def res_for_eps_km(eps_km: float, max_abs_lat: float = 60.0) -> int:
    """Finest resolution whose cell edge is >= eps_km everywhere below
    ``max_abs_lat``, so two points within eps_km share a cell or lie in
    adjacent cells and the 3×3-neighbourhood self-join
    (operators/cluster.candidate_edges) is a complete candidate generator.

    The binding direction is longitude at high latitude: a cell's east-west
    extent in km is 360/2**r * 111.32 * cos(lat).
    """
    import math

    shrink = math.cos(math.radians(max_abs_lat))
    r = 0
    while 360.0 / (1 << (r + 1)) * 111.32 * shrink >= eps_km and r < 20:
        r += 1
    return r
