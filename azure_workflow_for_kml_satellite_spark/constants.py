"""Engine-wide constants.

Coordinate convention: every coordinate pair is **[longitude, latitude]**
(GeoJSON order), mirroring the reference invariant
(reference: treesight/constants.py:3-10).
"""

from __future__ import annotations

# --- Geodesy (reference: treesight/constants.py:76-83) ---
METRES_PER_DEGREE_LATITUDE = 111_320.0
EARTH_RADIUS_M = 6_371_000.0
EARTH_RADIUS_KM = EARTH_RADIUS_M / 1_000.0
MULTI_REGION_THRESHOLD_KM = 500.0

# --- AOI defaults (reference: treesight/constants.py:24-32) ---
DEFAULT_AOI_BUFFER_M = 100.0
DEFAULT_AOI_MAX_AREA_HA = 10_000.0
DEFAULT_MAX_CLOUD_COVER_PCT = 20.0
BATCH_FALLBACK_AREA_HA = 50_000.0

# --- Input caps (reference: treesight/constants.py:14-22) ---
MAX_FEATURES_PER_KML = 500
MAX_KMZ_DECOMPRESSED_BYTES = 50_000_000
MAX_KMZ_COMPRESSION_RATIO = 100
MAX_KMZ_FILE_COUNT = 50
MAX_COORDINATE_ROWS = 500

# --- Display (reference: treesight/constants.py:34-41) ---
RGB_DISPLAY_MIN_PIXELS = 12
COLLECTION_DISPLAY_GSD_M = {
    "naip": 0.6,
    "sentinel-2-l2a": 10.0,
    "landsat-c2-l2": 30.0,
}
NAIP_LEGACY_GSD_M = 1.0
NAIP_LEGACY_MAX_YEAR = 2014

# --- SCL valid surface classes (reference: ndvi.py:98-103) ---
VALID_SCL_CLASSES = (2, 4, 5, 6)

# --- Landsat QA_PIXEL clear bitmask: bits 1,3,4,5 (reference: ndvi.py:274-276) ---
LANDSAT_QA_CLOUD_BITS = 0b00111010

# --- Change detection thresholds (reference: change_detection.py:29-30) ---
CHANGE_LOSS_THRESHOLD = -0.1
CHANGE_GAIN_THRESHOLD = 0.1

# --- Clustering (reference: treesight/geo.py:219) ---
DEFAULT_CLUSTER_EPS_KM = 25.0

# --- EUDR (reference: treesight/constants.py:111-114) ---
EUDR_CUTOFF_DATE = "2020-12-31"

# --- Cell index (ours; plays the H3/S2 role from SURVEY.md §2.3 J1) ---
# Resolution r => cell edge of 360 / 2**r degrees of longitude.
DEFAULT_CELL_RES = 10  # ~0.35 deg ≈ 39 km at equator — scene tiles cover ~4-9 cells
CLUSTER_CELL_RES = 10  # coarse cells for the 25 km epsilon-clustering join

# --- Raster-stage grain (ours) ---
# Tasks per core of the two per-window raster stages: the NDVI repartition
# (pipeline._ndvi_repartition) and the change-pair scatter
# (operators/change.season_changes). The measurements that fixed it are in
# _ndvi_repartition's docstring.
RASTER_TASKS_PER_CORE = 4

# --- Frame plan determinism ---
# The reference derives SEASONAL_YEARS from date.today() (frames.py:31); we
# pin an as-of year so synthetic data, oracle output and bench are stable.
DEFAULT_AS_OF_YEAR = 2026

# --- Canonical run window for headline queries / bench / oracle ---
# (the reference's date_start/date_end request filters, frames.py:247-253)
RUN_DATE_START = "2022-01-01"
RUN_DATE_END = "2023-12-31"

# --- NDVI classification (reference: aoi_metrics.py:27-33) ---
NDVI_THRESHOLDS = {
    "bare_soil": 0.1,
    "sparse": 0.2,
    "moderate": 0.4,
    "healthy": 0.6,
    "very_healthy": 0.8,
}
