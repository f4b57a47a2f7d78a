"""Data-driven broadcast-vs-salted selection in the cell spatial join
(round-2 VERDICT item 6): an inflated scene table must route through the
salted shuffle path and produce exactly the broadcast path's rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _inputs(spark):
    from azure_workflow_for_kml_satellite_spark.operators.aoi import prepare_aois
    from azure_workflow_for_kml_satellite_spark.operators.extract import (
        extract_features,
    )

    pages = spark.read.parquet(f"{SF_SMALL}/pages.parquet").limit(40)
    aois = prepare_aois(extract_features(pages))
    scenes = spark.read.parquet(f"{SF_SMALL}/scenes.parquet")
    frames = spark.read.parquet(f"{SF_SMALL}/frames.parquet")
    return aois, scenes, frames


def test_estimate_and_auto_choice(spark):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        MAX_BROADCAST_CELL_ROWS,
        estimate_scene_cell_rows,
        scene_frame_candidates,
    )

    _, scenes, frames = _inputs(spark)
    sf = scene_frame_candidates(scenes, frames, "2022-01-01", "2023-12-31")
    est = estimate_scene_cell_rows(sf)
    assert 0 < est <= MAX_BROADCAST_CELL_ROWS  # sf0.001 dim must broadcast


def test_salted_path_matches_broadcast_path(spark):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        scene_frame_candidates,
        spatial_join_best_scene,
        spatial_join_candidates,
    )

    aois, scenes, frames = _inputs(spark)
    sf = scene_frame_candidates(scenes, frames, "2022-01-01", "2023-12-31")

    cols = ["url", "feature_index", "frame_id", "scene_id"]
    bcast = sorted(
        tuple(r) for r in spatial_join_candidates(aois, sf, broadcast_scenes=True)
        .select(*cols).collect()
    )
    salted = sorted(
        tuple(r) for r in spatial_join_candidates(
            aois, sf, broadcast_scenes=False, salt=4
        ).select(*cols).collect()
    )
    assert bcast == salted and len(bcast) > 0

    # full J1+J2 with forced salted path matches the broadcast top-1 too
    best_b = sorted(
        tuple(r)
        for r in spatial_join_best_scene(
            aois, scenes, frames, "2022-01-01", "2023-12-31", broadcast_scenes=True
        ).select(*cols).collect()
    )
    best_s = sorted(
        tuple(r)
        for r in spatial_join_best_scene(
            aois, scenes, frames, "2022-01-01", "2023-12-31",
            broadcast_scenes=False, salt=4,
        ).select(*cols).collect()
    )
    assert best_b == best_s


def test_inflated_scene_table_routes_to_salted_path(spark, monkeypatch):
    """Replicating the dim past MAX_BROADCAST_CELL_ROWS (threshold lowered so
    the test stays fast) must flip the auto choice to the salted join and
    still return identical rows."""
    from azure_workflow_for_kml_satellite_spark.operators import spatial_join as SJ

    aois, scenes, frames = _inputs(spark)
    sf = SJ.scene_frame_candidates(scenes, frames, "2022-01-01", "2023-12-31")
    est = SJ.estimate_scene_cell_rows(sf)
    monkeypatch.setattr(SJ, "MAX_BROADCAST_CELL_ROWS", est - 1)

    auto = SJ.spatial_join_candidates(aois, sf)  # must pick the salted path
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan  # salted shuffle join, not broadcast
    cols = ["url", "feature_index", "frame_id", "scene_id"]
    got = sorted(tuple(r) for r in auto.select(*cols).collect())
    ref = sorted(
        tuple(r) for r in SJ.spatial_join_candidates(aois, sf, broadcast_scenes=True)
        .select(*cols).collect()
    )
    assert got == ref


def test_bbox_cell_join_matches_cross_join(spark):
    """The cell join emits every intersecting (aoi, scene) bbox pair exactly
    once — boxes touching along a cell boundary or at a corner, boxes on the
    lon=180 / lat=90 clamp edge, boxes spanning many cells, and disjoint
    boxes sharing a cell — on the broadcast and the salted path, for the
    buffered and the plain aoi bbox."""
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        _bbox_cell_join,
        scene_bbox,
    )

    res = 3  # 45° cells: cell edges at lon -135, -90, …, 135 and lat -45, 0, 45
    aoi_boxes = {
        "corner": (-10.0, -10.0, 0.0, 0.0),
        "edge": (40.0, 10.0, 45.0, 20.0),
        "clamp": (170.0, 80.0, 180.0, 90.0),
        "wide": (-170.0, -80.0, 170.0, 80.0),
        "lonely": (100.0, -40.0, 110.0, -30.0),
    }
    scene_boxes = {
        "corner": (0.0, 0.0, 10.0, 10.0),
        "edge": (45.0, 0.0, 50.0, 30.0),
        "clamp": (179.0, 89.0, 180.0, 90.0),
        "wide": (-100.0, -50.0, 100.0, 50.0),
        "same_cell_disjoint": (120.0, -40.0, 130.0, -30.0),
        "far": (-179.0, -89.0, -178.0, -88.0),
    }
    # the buffered bboxes run past the grid edges and add three pairs:
    # wide-far, wide-clamp and lonely-same_cell_disjoint (touching at lon 120)
    pad = 10.0
    aois = spark.createDataFrame(
        [
            (url, 0, *b, b[0] - pad, b[1] - pad, b[2] + pad, b[3] + pad)
            for url, b in aoi_boxes.items()
        ],
        "url string, feature_index int, min_lon double, min_lat double, "
        "max_lon double, max_lat double, buf_min_lon double, buf_min_lat double, "
        "buf_max_lon double, buf_max_lat double",
    )
    scenes = scene_bbox(
        spark.createDataFrame(
            [(sid, *b) for sid, b in scene_boxes.items()],
            "scene_id string, min_lon double, min_lat double, max_lon double, max_lat double",
        ),
        "scene_id",
    )

    for prefix in ("", "buf_"):
        bbox = tuple(prefix + c for c in ("min_lon", "min_lat", "max_lon", "max_lat"))
        lo_x, lo_y, hi_x, hi_y = (F.col(c) for c in bbox)
        ref = sorted(
            tuple(r)
            for r in aois.crossJoin(scenes)
            .filter(
                (lo_x <= F.col("s_max_lon")) & (F.col("s_min_lon") <= hi_x)
                & (lo_y <= F.col("s_max_lat")) & (F.col("s_min_lat") <= hi_y)
            )
            .select("url", "scene_id")
            .collect()
        )
        assert len(ref) == len(set(ref)) >= 10
        for broadcast, salt in ((True, 1), (False, 4)):
            got = sorted(
                tuple(r)
                for r in _bbox_cell_join(aois, bbox, scenes, res, broadcast, salt)
                .select("url", "scene_id")
                .collect()
            )
            assert got == ref, (prefix, broadcast, salt)


def test_display_scene_join_has_an_equi_key(spark):
    """The display ladder and the Landsat baseline join scenes to their
    windows on the collection: neither plan falls back to a nested-loop or
    cartesian join."""
    import __spark_entry__ as E

    for name in ("q_display_scene", "q_landsat_baseline"):
        df = E.queries()[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan, name


_SCENE_SCHEMA = (
    "scene_id string, collection string, datetime timestamp, cloud_cover double, "
    "resolution_m double, min_lon double, min_lat double, max_lon double, max_lat double"
)


def _scenes(spark, rows):
    """Hand-built scenes, all on one bbox: (scene_id, collection, UTC
    datetime string, cloud_cover)."""
    from datetime import datetime

    return spark.createDataFrame(
        [
            (sid, coll, datetime.fromisoformat(dt + "+00:00"), cloud, 10.0, 0.0, 0.0, 1.0, 1.0)
            for sid, coll, dt, cloud in rows
        ],
        _SCENE_SCHEMA,
    )


def _windows(spark, rows):
    """Hand-built windows: (window_id, start, end, wanted, max_cloud)."""
    return spark.createDataFrame(
        rows, "window_id int, start string, end string, wanted string, max_cloud double"
    )


def _found(spark, scenes, windows):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        scenes_in_windows,
    )

    return sorted(
        tuple(r)
        for r in scenes_in_windows(_scenes(spark, scenes), _windows(spark, windows), "wanted")
        .select("window_id", "scene_id")
        .collect()
    )


def test_scene_search_cloud_ceiling_is_inclusive_and_null_is_none(spark):
    """A ceiling of 20.0 admits a 20.0 scene and rejects 20.001; a null
    ceiling admits a NAIP scene whose cloud cover is null; a null cloud
    cover never passes a set ceiling; the collection must match."""
    scenes = [
        ("at", "sentinel-2-l2a", "2022-06-10 12:00:00", 20.0),
        ("over", "sentinel-2-l2a", "2022-06-10 12:00:00", 20.001),
        ("naip", "naip", "2022-06-10 12:00:00", None),
        ("naip_s2", "sentinel-2-l2a", "2022-06-10 12:00:00", None),
    ]
    windows = [
        (0, "2022-06-01", "2022-06-30", "sentinel-2-l2a", 20.0),
        (1, "2022-06-01", "2022-06-30", "naip", None),
    ]
    assert _found(spark, scenes, windows) == [(0, "at"), (1, "naip")]


def test_scene_search_window_days_are_inclusive(spark):
    """A scene at 23:59 on a window's last day (or 00:00 on its first) is
    in; one on the next day, or the day before, is out."""
    scenes = [
        ("first", "landsat-c2-l2", "2014-06-01 00:00:00", 5.0),
        ("eve", "landsat-c2-l2", "2014-05-31 23:59:59", 5.0),
        ("last", "landsat-c2-l2", "2014-09-30 23:59:00", 5.0),
        ("after", "landsat-c2-l2", "2014-10-01 00:00:00", 5.0),
    ]
    windows = [(0, "2014-06-01", "2014-09-30", "landsat-c2-l2", 30.0)]
    assert _found(spark, scenes, windows) == [(0, "first"), (0, "last")]


def test_pick_breaks_cloud_ties_by_datetime_then_scene_id(spark):
    """Equal cloud cover: the earlier scene wins; equal cloud and datetime:
    the smaller scene_id wins. ``carry`` columns ride along."""
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        pick_best_scene,
    )

    scenes = _scenes(
        spark,
        [
            # group a: cloud tie, datetime decides against scene_id order
            ("a_1_late", "s", "2022-06-20 10:00:00", 3.0),
            ("a_2_early", "s", "2022-06-10 10:00:00", 3.0),
            ("a_0_cloudy", "s", "2022-06-01 10:00:00", 9.0),
            # group b: cloud and datetime tie, scene_id decides
            ("b_1", "s", "2022-06-10 10:00:00", 3.0),
            ("b_3", "s", "2022-06-10 10:00:00", 3.0),
            ("b_2", "s", "2022-06-10 10:00:00", 3.0),
        ],
    ).withColumn("g", F.substring("scene_id", 1, 1))
    got = sorted(
        tuple(r)
        for r in pick_best_scene(scenes, ["g"], ["scene_id", "cloud_cover"], carry=["collection"])
        .collect()
    )
    assert got == [("a", "s", "a_2_early", 3.0), ("b", "s", "b_1", 3.0)]
