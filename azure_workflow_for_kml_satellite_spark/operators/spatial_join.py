"""Cell-indexed spatial join: AOI ↔ scene (SURVEY.md §2.3 J1/J2/J3 — the
engine's centerpiece).

Spark-first design:
- One helper, ``_bbox_cell_join``, is the engine's only bbox theta join: the
  J1 candidates, the display mosaic, J3 tile assignment and the Landsat
  baseline (operators/eudr.py) all call it.
- Both sides are polyfilled to grid cells with **pure column expressions**
  (floor arithmetic + ``sequence`` + ``explode``) — no Python in the hot path,
  whole-stage-codegen friendly. ``cell_ix``/``cell_iy``/``cell_id`` are the
  one column form of functions/cells.cell_of.
- Candidate generation is a plain equi-join on the int64 cell id; the exact
  bbox-intersection predicate (the reference's STAC ``bbox=`` /
  ``s_intersects`` semantics, planetary_computer.py:159-165, mosaic.py:52-64)
  is a refinement filter.
- Duplicate (aoi, scene) pairs from multi-cell overlap are eliminated with the
  **reporter-cell trick** (emit only in the cell containing the intersection's
  min corner) instead of a ``distinct`` shuffle.
- One scene picker serves J1/J2, the display-mosaic ladder and the Landsat
  baseline: ``scenes_in_windows`` (scenes × a broadcast window table, one
  equi-join on the collection) then ``pick_best_scene``, a map-side
  ``min_by`` over a struct key — least cloud first (reference:
  ndvi.py:63-67), ties by (datetime, scene_id): the reference's STAC sort is
  unstable under ties (SURVEY.md §7.4 risk 3).
- The scene×frame dimension is built FIRST (small side), so the expensive
  join never multiplies by frames.

Skew: dense geometry clusters (the monster grid) hash to few cells. When the
scene side is broadcast (default: it is a dimension) there is no shuffle to
skew. For the non-broadcast path, ``salt`` deterministically splits each hot
cell key: aoi side gets ``pmod(xxhash64(url, feature_index), salt)``, the
scene side explodes all salt ids (reference analog: area-based reroute to
bigger nodes, batch.py:28-30; SURVEY.md §4). When the data picks the salted
path, it uses ``AUTO_SALT`` salts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from azure_workflow_for_kml_satellite_spark.constants import (
    COLLECTION_DISPLAY_GSD_M,
    DEFAULT_CELL_RES,
    DEFAULT_MAX_CLOUD_COVER_PCT,
    NAIP_LEGACY_GSD_M,
    NAIP_LEGACY_MAX_YEAR,
    RGB_DISPLAY_MIN_PIXELS,
)
from azure_workflow_for_kml_satellite_spark.functions.cells import cell_size_deg

# ── cell expressions (functions/cells.cell_of in pure SQL) ──────────────────


def _clamped_cell(shifted: Column, res: int) -> Column:
    return F.greatest(
        F.lit(0),
        F.least(F.lit((1 << res) - 1), F.floor(shifted / F.lit(cell_size_deg(res)))),
    )


def cell_ix(lon: str | Column, res: int) -> Column:
    """Grid column of a longitude, clamped to the grid."""
    return _clamped_cell((F.col(lon) if isinstance(lon, str) else lon) + F.lit(180.0), res)


def cell_iy(lat: str | Column, res: int) -> Column:
    """Grid row of a latitude, clamped to the grid."""
    return _clamped_cell((F.col(lat) if isinstance(lat, str) else lat) + F.lit(90.0), res)


def cell_id(ix: Column, iy: Column, res: int) -> Column:
    return (
        F.lit(res).cast("long") * F.lit(1 << 52).cast("long")
        + ix.cast("long") * F.lit(1 << 26).cast("long")
        + iy.cast("long")
    )


def explode_bbox_cells(
    df: DataFrame,
    min_lon: str,
    min_lat: str,
    max_lon: str,
    max_lat: str,
    res: int = DEFAULT_CELL_RES,
) -> DataFrame:
    """Polyfill a bbox to cells entirely in column expressions: one output row
    per (input row, covering cell), the cell id in ``cell``. Bboxes that
    intersect always share ≥ 1 cell, so the cell equi-join is a complete
    candidate generator and the bbox predicate is pure refinement."""
    df = (
        df.withColumn("_ix0", cell_ix(min_lon, res))
        .withColumn("_ix1", cell_ix(max_lon, res))
        .withColumn("_iy0", cell_iy(min_lat, res))
        .withColumn("_iy1", cell_iy(max_lat, res))
    )
    df = df.withColumn("_ix", F.explode(F.sequence("_ix0", "_ix1"))).withColumn(
        "_iy", F.explode(F.sequence("_iy0", "_iy1"))
    )
    return df.withColumn("cell", cell_id(F.col("_ix"), F.col("_iy"), res)).drop(
        "_ix0", "_ix1", "_iy0", "_iy1", "_ix", "_iy"
    )


_BUF_BBOX = ("buf_min_lon", "buf_min_lat", "buf_max_lon", "buf_max_lat")


def scene_bbox(scenes: DataFrame, *cols: str | Column) -> DataFrame:
    """``cols`` of a scenes table plus its bbox as ``s_min_lon … s_max_lat``."""
    return scenes.select(
        *cols, *[F.col(c).alias(f"s_{c}") for c in ("min_lon", "min_lat", "max_lon", "max_lat")]
    )


def _bbox_cell_join(
    aois: DataFrame,
    aoi_bbox: tuple[str, str, str, str],
    scenes: DataFrame,
    res: int = DEFAULT_CELL_RES,
    broadcast: bool = True,
    salt: int = 1,
    also: Column | None = None,
) -> DataFrame:
    """Every (aoi, scene) row pair whose bboxes intersect, each exactly once.

    ``aoi_bbox`` names the aoi bbox columns (min_lon, min_lat, max_lon,
    max_lat); scenes carry theirs as ``s_min_lon … s_max_lat``. Both sides
    are exploded to cells and equi-joined on ``cell``: the scene side is
    broadcast, or — ``broadcast=False`` — split ``salt`` ways on the shuffle
    path (aois keyed by ``url, feature_index``). The exact bbox predicate,
    with ``also`` ANDed in front, refines the candidates; the reporter-cell
    filter then keeps each pair once."""
    a = explode_bbox_cells(aois, *aoi_bbox, res=res)
    s = explode_bbox_cells(scenes, "s_min_lon", "s_min_lat", "s_max_lon", "s_max_lat", res=res)
    keys = ["cell"]
    if broadcast:
        s = F.broadcast(s)
    elif salt > 1:
        a = a.withColumn(
            "salt", F.pmod(F.xxhash64("url", "feature_index"), F.lit(salt))
        )
        s = s.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("salt", F.col("salt").cast("long"))
        keys.append("salt")

    min_lon, min_lat, max_lon, max_lat = aoi_bbox
    hit = (
        (F.col(min_lon) <= F.col("s_max_lon"))
        & (F.col("s_min_lon") <= F.col(max_lon))
        & (F.col(min_lat) <= F.col("s_max_lat"))
        & (F.col("s_min_lat") <= F.col(max_lat))
    )
    joined = a.join(s, on=keys, how="inner").filter(hit if also is None else also & hit)
    # Reporter cell: only the cell containing the intersection's min corner
    # emits the pair — no distinct() shuffle needed.
    rep = cell_id(
        cell_ix(F.greatest(min_lon, "s_min_lon"), res),
        cell_iy(F.greatest(min_lat, "s_min_lat"), res),
        res,
    )
    return joined.filter(F.col("cell") == rep).drop(*keys)


# ── the scene picker: search scenes × time windows, then pick one ─────────


def _frames_in(frames: DataFrame, date_start: str | None, date_end: str | None) -> DataFrame:
    """Frames whose window overlaps the run's [date_start, date_end] (F1)."""
    if date_start:
        frames = frames.filter(F.col("end") >= F.lit(date_start))
    if date_end:
        frames = frames.filter(F.col("start") <= F.lit(date_end))
    return frames


def scenes_in_windows(scenes: DataFrame, windows: DataFrame, collection: str) -> DataFrame:
    """The STAC search (reference: ndvi.py:44-91, runner.py:174-206,
    228-294): every (scene, window) pair where the scene is in the window
    column named by ``collection``, dated within its ``start``..``end`` days
    inclusive and no cloudier than its ``max_cloud`` (null: no ceiling —
    NAIP has no cloud cover). Scene columns come first, then the window's."""
    # the scenes file is small but the downstream cell explode + broadcast
    # build would otherwise run in its single scan task — parallelize it
    scenes = scenes.repartition(scenes.sparkSession.sparkContext.defaultParallelism)
    s = scene_bbox(
        scenes, "scene_id", F.col("collection").alias("scene_collection"),
        "datetime", "cloud_cover", "resolution_m",
    )
    return s.join(
        F.broadcast(windows),
        (F.col("scene_collection") == F.col(collection))
        & (F.to_date("datetime") >= F.to_date("start"))
        & (F.to_date("datetime") <= F.to_date("end"))
        & (F.col("max_cloud").isNull() | (F.col("cloud_cover") <= F.col("max_cloud"))),
        "inner",
    )


def pick_best_scene(
    candidates: DataFrame,
    keys: list[str],
    fields: list[str],
    carry: list[str] | tuple[str, ...] = (),
    order: Column | None = None,
) -> DataFrame:
    """The top-1 scene per ``keys`` group: ``min_by`` over a struct of
    ``fields``, ordered by ``order`` — by default (cloud_cover, datetime,
    scene_id). ``carry`` columns ride along via ``first()``. Columns: keys,
    carry, fields."""
    if order is None:
        order = F.struct("cloud_cover", "datetime", "scene_id")
    return (
        candidates.groupBy(*keys)
        .agg(
            F.min_by(F.struct(*fields), order).alias("best"),
            *[F.first(c).alias(c) for c in carry],
        )
        .select(*keys, *carry, "best.*")
    )


def scene_frame_candidates(
    scenes: DataFrame,
    frames: DataFrame,
    date_start: str | None = None,
    date_end: str | None = None,
) -> DataFrame:
    """Scenes usable for NDVI per frame: ``scenes_in_windows`` on the
    frame's ``ndvi_collection`` and ``max_cloud`` (reference: ndvi.py:44-91,
    279-322; F1/F3 filters). Small: a scene matches ≤1 frame per variant."""
    f = _frames_in(frames, date_start, date_end).select(
        "frame_id", "naip_variant", "year", "season", "start", "end",
        F.col("collection").alias("frame_collection"), "is_naip", "ndvi_collection", "max_cloud",
    )
    return scenes_in_windows(scenes, f, "ndvi_collection")


# ── the join ────────────────────────────────────────────────────────────────

_AOI_CARRY = [
    "url",
    "feature_index",
    "dedup_key",
    "name",
    "min_lon",
    "min_lat",
    "max_lon",
    "max_lat",
    "buf_min_lon",
    "buf_min_lat",
    "buf_max_lon",
    "buf_max_lat",
    "area_ha",
    "max_span_m",
    "has_naip",
]


def estimate_scene_cell_rows(scene_frames: DataFrame, res: int = DEFAULT_CELL_RES) -> int:
    """Exact row count of the cell-exploded scene×frame dim, computed as one
    cheap aggregate over the (small relative to AOIs) scene×frame table —
    sum over rows of (#x cells × #y cells) their bbox covers."""
    nx = cell_ix("s_max_lon", res) - cell_ix("s_min_lon", res) + 1
    ny = cell_iy("s_max_lat", res) - cell_iy("s_min_lat", res) + 1
    row = scene_frames.agg(F.sum(nx * ny).alias("n")).collect()[0]
    return int(row["n"] or 0)


# Above this many exploded dim rows the broadcast build (~150 B/row on the
# driver + every executor) stops being worth it vs a salted shuffle join.
MAX_BROADCAST_CELL_ROWS = 2_000_000
# Salt count of the shuffle path when the data, not the caller, picks it.
AUTO_SALT = 8


def spatial_join_candidates(
    aois: DataFrame,
    scene_frames: DataFrame,
    res: int = DEFAULT_CELL_RES,
    broadcast_scenes: bool | None = None,
    salt: int = 1,
) -> DataFrame:
    """All (aoi, frame, candidate scene) rows: the cell join of the buffered
    aoi bbox against the scene×frame dim, restricted to the aoi's NAIP
    variant.

    ``broadcast_scenes=None`` (default) picks the strategy from the data:
    the exploded scene×frame×cell dim row count is estimated with one cheap
    aggregate; small dims broadcast (AOI side never shuffles), large dims —
    e.g. a multi-year 10⁷-scene STAC catalog — go through the salted shuffle
    join with ``AUTO_SALT`` salts instead of exceeding broadcast limits.
    Both paths produce identical rows (tested)."""
    if broadcast_scenes is None:
        est = estimate_scene_cell_rows(scene_frames, res)
        broadcast_scenes = est <= MAX_BROADCAST_CELL_ROWS
        if not broadcast_scenes and salt == 1:
            salt = AUTO_SALT
    return _bbox_cell_join(
        aois.select(*_AOI_CARRY), _BUF_BBOX, scene_frames, res, broadcast_scenes, salt,
        # NAIP-variant frame selection (aois.has_naip picks the frame set)
        also=F.col("naip_variant") == F.col("has_naip"),
    )


def best_scene_per_frame(candidates: DataFrame) -> DataFrame:
    """Top-1 scene per (aoi, frame) by (cloud, datetime, scene_id) — J2/W3."""
    return pick_best_scene(
        candidates,
        ["url", "feature_index", "frame_id", "naip_variant", "year", "season", "start", "end",
         "frame_collection", "is_naip", "ndvi_collection"],
        ["scene_id", "cloud_cover", "datetime", "resolution_m",
         "s_min_lon", "s_min_lat", "s_max_lon", "s_max_lat"],
        carry=[c for c in _AOI_CARRY if c not in ("url", "feature_index")],
    )


def spatial_join_best_scene(
    aois: DataFrame,
    scenes: DataFrame,
    frames: DataFrame,
    date_start: str | None = None,
    date_end: str | None = None,
    res: int = DEFAULT_CELL_RES,
    broadcast_scenes: bool | None = None,
    salt: int = 1,
) -> DataFrame:
    """Full J1+J2: one row per (aoi, frame) with its least-cloudy scene.
    broadcast_scenes=None → data-driven broadcast/salted-shuffle choice."""
    sf = scene_frame_candidates(scenes, frames, date_start, date_end)
    cand = spatial_join_candidates(aois, sf, res, broadcast_scenes, salt)
    return best_scene_per_frame(cand)


def display_gsd_m(collection: Column, year: Column) -> Column:
    """Display ground sample distance of a frame (F15; reference
    frames.py:60-95): 1 m for NAIP vintages up to NAIP_LEGACY_MAX_YEAR, else
    the collection's GSD, 10 m for any other collection. RGB display is
    suitable when ``max_span_m / display_gsd_m ≥ RGB_DISPLAY_MIN_PIXELS``."""
    gsd = F.when(
        (collection == "naip") & (year <= NAIP_LEGACY_MAX_YEAR), F.lit(NAIP_LEGACY_GSD_M)
    )
    for coll, m in COLLECTION_DISPLAY_GSD_M.items():
        gsd = gsd.when(collection == coll, F.lit(m))
    return gsd.otherwise(F.lit(10.0))


def best_display_scene(
    aois: DataFrame,
    scenes: DataFrame,
    frames: DataFrame,
    date_start: str | None = None,
    date_end: str | None = None,
    res: int = DEFAULT_CELL_RES,
) -> DataFrame:
    """Display-mosaic selection with the reference's fallback ladder
    (SURVEY.md §7.4 risk 6; reference runner.py:228-294, mosaic.py:62-72):

    - only frames whose RGB display is suitable (``display_gsd_m``,
      frames.py:75-76) register a display mosaic;
    - candidates come from the frame's DISPLAY collection; NAIP ranks by
      datetime DESC (newest vintage wins — mosaic.py:68-72, no cloud
      property), cloud collections rank by cloud ASC with the
      DEFAULT_MAX_CLOUD_COVER_PCT ceiling (runner.py:229-234);
    - a NAIP frame with no NAIP scene falls back to a Sentinel-2 mosaic and
      reports display_collection='sentinel-2-l2a' (runner.py:244-254).

    Output: one row per suitable (aoi, frame) that found any scene:
    (url, feature_index, frame_id, naip_variant, display_collection,
    scene_id, fallback_used)."""
    f = _frames_in(frames, date_start, date_end).select(
        "frame_id", "naip_variant", "year", "start", "end",
        F.col("collection").alias("frame_collection"), "is_naip",
    )
    # ladder rungs: every frame in its own display collection, plus each
    # NAIP frame again as its sentinel-2 fallback; one search on the rung's
    # collection finds both candidate sets. NAIP has no cloud property, so
    # its rungs have no ceiling.
    rungs = f.withColumns(
        {"display_collection": F.col("frame_collection"), "fallback_used": F.lit(False)}
    ).unionByName(
        f.filter(F.col("is_naip")).withColumns(
            {"display_collection": F.lit("sentinel-2-l2a"), "fallback_used": F.lit(True)}
        )
    )
    rungs = rungs.withColumn(
        "max_cloud",
        F.when(F.col("display_collection") != "naip", F.lit(DEFAULT_MAX_CLOUD_COVER_PCT)),
    )
    joined = _bbox_cell_join(
        aois.select("url", "feature_index", "has_naip", "max_span_m", *_BUF_BBOX),
        _BUF_BBOX,
        scenes_in_windows(scenes, rungs, "display_collection"),
        res,
        also=F.col("naip_variant") == F.col("has_naip"),
    )
    # F15 suitability gate (display only registered when suitable)
    gsd = display_gsd_m(F.col("frame_collection"), F.col("year"))
    joined = joined.filter(F.col("max_span_m") / gsd >= RGB_DISPLAY_MIN_PIXELS)

    # ladder order: primary before fallback; NAIP newest-first, others
    # least-cloudy-first; deterministic tiebreaks
    order = F.struct(
        F.col("fallback_used").cast("int").alias("prio"),
        F.when(F.col("display_collection") == "naip", -F.unix_timestamp("datetime"))
        .otherwise(F.col("cloud_cover")).alias("rank"),
        F.col("datetime").alias("dt"),
        F.col("scene_id").alias("sid"),
    )
    return pick_best_scene(
        joined,
        ["url", "feature_index", "frame_id", "naip_variant"],
        ["display_collection", "scene_id", "fallback_used"],
        order=order,
    )


def tile_assignment(aois: DataFrame, scenes: DataFrame, res: int = DEFAULT_CELL_RES) -> DataFrame:
    """J3: every (geometry, intersecting scene tile) pair — the
    geometry↔raster-tile assignment relation."""
    return _bbox_cell_join(
        aois.select("url", "feature_index", *_BUF_BBOX),
        _BUF_BBOX,
        scene_bbox(scenes, "scene_id", "collection"),
        res,
    )
