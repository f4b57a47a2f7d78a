"""Spark integration: distributed pipeline vs sequential-oracle expected
tables at sf0.001 (the same comparison the driver runs at sf0.01)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _expected(name: str, cols: str = "*"):
    return duckdb.sql(
        f"SELECT {cols} FROM read_parquet('{SF_SMALL}/expected/{name}.parquet')"
    ).fetchall()


@pytest.fixture(scope="module")
def aois(spark):
    from azure_workflow_for_kml_satellite_spark.pipeline import build_aois

    return build_aois(spark, SF_SMALL).cache()


@pytest.fixture(scope="module")
def ndvi(spark):
    from azure_workflow_for_kml_satellite_spark.pipeline import build_ndvi

    return build_ndvi(spark, SF_SMALL).cache()


def test_extract_matches_expected(spark, aois):
    got = {
        (r["url"], r["feature_index"], r["name"], r["vertex_count"], r["has_holes"])
        for r in aois.select("url", "feature_index", "name", "vertex_count", "has_holes").collect()
    }
    exp = set(_expected("features", "url, feature_index, name, vertex_count, has_holes"))
    assert got == exp


def test_monster_page_has_200(aois):
    n = aois.filter(F.col("name").startswith("Monster")).count()
    assert n == 200
    # all monster bboxes distinct (reference: test_monster_aoi_scale.py:108-153)
    nb = (
        aois.filter(F.col("name").startswith("Monster"))
        .select("min_lon", "min_lat")
        .distinct()
        .count()
    )
    assert nb == 200


def test_aoi_values_match_expected(spark, aois):
    got = {
        (r["url"], r["feature_index"]): (
            r["area_ha"],
            r["perimeter_km"],
            r["centroid_lon"],
            r["centroid_lat"],
            r["has_naip"],
        )
        for r in aois.collect()
    }
    for url, fi, area, per, clon, clat, naip in _expected(
        "aois", "url, feature_index, area_ha, perimeter_km, centroid_lon, centroid_lat, has_naip"
    ):
        g = got[(url, fi)]
        assert g == (area, per, clon, clat, naip), (url, fi)


def test_best_scene_matches_expected(spark, aois):
    from azure_workflow_for_kml_satellite_spark.constants import (
        RUN_DATE_END,
        RUN_DATE_START,
    )
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )

    scenes = spark.read.parquet(f"{SF_SMALL}/scenes.parquet")
    frames = spark.read.parquet(f"{SF_SMALL}/frames.parquet")
    best = spatial_join_best_scene(aois, scenes, frames, RUN_DATE_START, RUN_DATE_END)
    got = {
        (r["url"], r["feature_index"], r["frame_id"], r["naip_variant"]): (
            r["scene_id"],
            r["cloud_cover"],
        )
        for r in best.collect()
    }
    exp_rows = _expected(
        "best_scenes", "url, feature_index, frame_id, naip_variant, scene_id, cloud_cover"
    )
    assert len(got) == len(exp_rows)
    for url, fi, fid, nv, sid, cc in exp_rows:
        assert got[(url, fi, fid, nv)] == (sid, cc), (url, fi, fid)


def test_ndvi_stats_match_expected(spark, ndvi):
    got = {
        (r["url"], r["feature_index"], r["year"], r["season"]): (
            r["scene_id"],
            r["ndvi_mean"],
            r["ndvi_std"],
            r["ndvi_median"],
            r["valid_pixels"],
            r["total_pixels"],
            r["masked_pixels"],
        )
        for r in ndvi.filter(F.col("ndvi_mean").isNotNull()).collect()
    }
    exp = _expected(
        "ndvi_stats",
        "url, feature_index, year, season, scene_id, ndvi_mean, ndvi_std, ndvi_median,"
        " valid_pixels, total_pixels, masked_pixels",
    )
    assert len(got) == len(exp)
    for url, fi, yr, season, sid, mean, std, med, vp, tp, mp in exp:
        assert got[(url, fi, yr, season)] == (sid, mean, std, med, vp, tp, mp), (url, fi, yr, season)


def test_season_changes_match_expected(spark, ndvi):
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes

    ch = season_changes(ndvi)
    got = {
        (r["url"], r["feature_index"], r["season"], r["year_from"], r["year_to"]): (
            r["mean_delta"],
            r["loss_pct"],
            r["gain_pct"],
            r["total_ha"],
        )
        for r in ch.collect()
    }
    exp = _expected(
        "season_changes",
        "url, feature_index, season, year_from, year_to, mean_delta, loss_pct, gain_pct, total_ha",
    )
    assert len(got) == len(exp)
    for url, fi, season, yf, yt, md, lp, gp, th in exp:
        assert got[(url, fi, season, yf, yt)] == (md, lp, gp, th)


def test_raster_outputs_do_not_depend_on_grain(spark, aois, monkeypatch):
    """NDVI rows and change rows are the same multiset whether the raster
    stages run coarse (NDVI in one task, the change scatter at one task per
    core) or at the engine's grain, so neither depends on task placement."""
    from collections import Counter

    from azure_workflow_for_kml_satellite_spark.constants import (
        RASTER_TASKS_PER_CORE,
        RUN_DATE_END,
        RUN_DATE_START,
    )
    from azure_workflow_for_kml_satellite_spark.operators import change
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )

    scenes = spark.read.parquet(f"{SF_SMALL}/scenes.parquet")
    frames = spark.read.parquet(f"{SF_SMALL}/frames.parquet")
    best = spatial_join_best_scene(
        aois, scenes, frames, RUN_DATE_START, RUN_DATE_END
    ).localCheckpoint()
    grain = RASTER_TASKS_PER_CORE * spark.sparkContext.defaultParallelism
    runs = []
    for k, per_core in ((1, 1), (grain, RASTER_TASKS_PER_CORE)):
        nd = ndvi_stats(best.repartition(k, "url", "frame_id"))
        assert nd.rdd.getNumPartitions() == k
        monkeypatch.setattr(change, "RASTER_TASKS_PER_CORE", per_core)
        # repr keeps NaN and exact float bits comparable as multiset keys
        runs.append((
            Counter(map(repr, nd.collect())),
            Counter(map(repr, change.season_changes(nd).collect())),
        ))
    (nd_coarse, ch_coarse), (nd_grain, ch_grain) = runs
    assert sum(nd_coarse.values()) > 0 and sum(ch_coarse.values()) > 0
    assert nd_coarse == nd_grain
    assert ch_coarse == ch_grain


def test_trend_matches_expected(spark, ndvi):
    from azure_workflow_for_kml_satellite_spark.operators.metrics import ndvi_trend_per_aoi

    tr = ndvi_trend_per_aoi(ndvi)
    got = {
        (r["url"], r["feature_index"]): (
            r["direction"],
            r["observations"],
            r["slope_per_frame"],
            r["mean_ndvi"],
            r["health_class"],
        )
        for r in tr.collect()
    }
    exp = _expected(
        "ndvi_trend", "url, feature_index, direction, observations, slope_per_frame, mean_ndvi, health_class"
    )
    # engine trend only covers AOIs that got >= 1 frame row; expected covers all
    for url, fi, d, obs, slope, mn, hc in exp:
        if (url, fi) in got:
            assert got[(url, fi)] == (d, obs, slope, mn, hc), (url, fi)


def test_cluster_matches_expected(spark, aois):
    from azure_workflow_for_kml_satellite_spark.operators.cluster import cluster_aois

    got = {
        (r["url"], r["feature_index"]): r["cluster_key"]
        for r in cluster_aois(aois).collect()
    }
    exp = _expected("clusters")
    assert len(got) == len(exp)
    for url, fi, ck in exp:
        assert got[(url, fi)] == ck, (url, fi)


def test_wdpa_matches_expected(spark, aois):
    from azure_workflow_for_kml_satellite_spark.operators.pip import wdpa_overlap

    pas = spark.read.parquet(f"{SF_SMALL}/protected_areas.parquet")
    got = {
        (r["url"], r["feature_index"], r["wdpa_id"]) for r in wdpa_overlap(aois, pas).collect()
    }
    exp = set(_expected("wdpa_overlap", "url, feature_index, wdpa_id"))
    assert got == exp


def test_quarantine_rows_present(spark):
    from azure_workflow_for_kml_satellite_spark.operators.extract import extract_features

    pages = spark.read.parquet(f"{SF_SMALL}/pages.parquet")
    bad = extract_features(pages).filter("error is not null")
    exp = _expected("quarantine")
    assert bad.count() == len(exp)


def test_text_invariant(spark):
    """Byte-identical extracted text per url (BASELINE.json input_hint)."""
    from azure_workflow_for_kml_satellite_spark.functions.kml import extract_text

    pages = spark.read.parquet(f"{SF_SMALL}/pages.parquet").collect()
    for r in pages:
        assert extract_text(bytes(r["html"])) == r["text"], r["url"]


def test_stage_contracts_fire_on_mutated_schema(spark):
    """The stage-boundary contracts (plans/contracts.py, the reference
    contracts.py analog) fail fast with a per-column diff when a hand-off
    DataFrame is missing or mistypes a required column — and pass through
    unchanged on a conforming frame."""
    import pytest
    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark.operators.extract import (
        extract_features,
    )
    from azure_workflow_for_kml_satellite_spark.plans import contracts

    pages = spark.read.parquet(f"{SF_SMALL}/pages.parquet")
    feats = extract_features(pages)
    # conforming: returns the same DataFrame object
    assert contracts.expect(feats, "extract→aoi", contracts.FEATURES) is feats

    # deliberately mutated: drop one required column, mistype another
    broken = feats.drop("dedup_key").withColumn(
        "feature_index", F.col("feature_index").cast("string")
    )
    with pytest.raises(contracts.ContractError) as exc:
        contracts.expect(broken, "extract→aoi", contracts.FEATURES)
    msg = str(exc.value)
    assert "missing column 'dedup_key'" in msg
    assert "column 'feature_index' is string, expected int" in msg
    assert "extract→aoi" in msg
