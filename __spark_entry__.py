"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``       — flagship KML→spatial-join→NDVI pipeline on the
  engine's deterministic Common-Crawl-style ``pages`` table at sf0.001
  (BASELINE.json input_hint mandates that table shape; it is synthesised
  under ``data/`` since the driver's TPC-H-ish tables have no geometry).
- ``queries()``          — one entry per implemented operator (SURVEY.md §2).
- ``oracle_sql()``       — DuckDB SQL the driver runs at sf=0.01. Relational
  / text / similarity operators have genuine SQL re-derivations over the
  pre-registered testdata views; geometry/raster operators are checked
  against ``data/sf0.01/expected/*.parquet`` written by the **sequential
  oracle** (azure_workflow_for_kml_satellite_spark/oracle/sequential.py) — an
  independent single-process pure-Python/numpy recomputation of the whole
  pipeline (no Spark), so the distributed plumbing is what is being tested.
  Ops with no SQL entry (MinHash-LSH, SimHash, LSH-ANN, fingerprint) are
  probabilistic or xxhash64-based and get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from azure_workflow_for_kml_satellite_spark.constants import (
    DEFAULT_CELL_RES,
    RGB_DISPLAY_MIN_PIXELS,
    RUN_DATE_END,
    RUN_DATE_START,
)
from azure_workflow_for_kml_satellite_spark.pipeline import (
    ENGINE_DATA_ROOT,
    build_aois,
    build_ndvi,
    engine_dir,
    eudr_determination,
    load_tables,
)

# Engine-data root as DuckDB sees it (absolute path; oracles run at sf0.01)
_E = f"{ENGINE_DATA_ROOT}/sf0.01"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: per-(geometry, frame) NDVI stats, sf0.001."""
    ed = engine_dir("/root/testdata/sf0.001")
    nd = build_ndvi(spark, ed)
    return nd.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("year").cast("long").alias("year"),
        "season",
        "scene_id",
        "cloud_cover",
        "ndvi_mean",
        "ndvi_median",
        F.col("valid_pixels").cast("long").alias("valid_pixels"),
        F.col("total_pixels").cast("long").alias("total_pixels"),
    )


# ── engine-table queries (geometry pipeline) ─────────────────────────────────


def _q_extract_features(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.extract import extract_features

    ed = engine_dir(sf_dir)
    pages = spark.read.parquet(f"{ed}/pages.parquet").repartition(32)
    return extract_features(pages).filter("error is null").select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "name",
        "dedup_key",
        F.col("vertex_count").cast("long").alias("vertex_count"),
        "has_holes",
    )


def _q_quarantine(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.extract import extract_features

    ed = engine_dir(sf_dir)
    pages = spark.read.parquet(f"{ed}/pages.parquet").repartition(32)
    return extract_features(pages).filter("error is not null").select("url", "error")


def _q_aoi_prep(spark, sf_dir):
    aois = build_aois(spark, engine_dir(sf_dir))
    return aois.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
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
        "perimeter_km",
        "centroid_lon",
        "centroid_lat",
        "area_warning",
        "has_naip",
        "max_span_m",
    )


def _q_spatial_join(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    best = spatial_join_best_scene(
        aois, t["scenes"], t["frames"], RUN_DATE_START, RUN_DATE_END
    )
    return best.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("frame_id").cast("long").alias("frame_id"),
        "naip_variant",
        F.col("year").cast("long").alias("year"),
        "season",
        "scene_id",
        "cloud_cover",
    )


def _q_tile_assignment(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import tile_assignment

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    scenes = t["scenes"].filter(
        (F.col("collection") == "sentinel-2-l2a")
        & (F.col("datetime") >= F.lit("2023-06-01"))
        & (F.col("datetime") < F.lit("2023-07-01"))
    )
    return tile_assignment(aois, scenes).select(
        "url", F.col("feature_index").cast("long").alias("feature_index"), "scene_id"
    )


def _q_display_scene(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        best_display_scene,
    )

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    return best_display_scene(
        aois, t["scenes"], t["frames"], RUN_DATE_START, RUN_DATE_END
    ).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("frame_id").cast("long").alias("frame_id"),
        "naip_variant",
        "display_collection",
        "scene_id",
        "fallback_used",
    )


def _q_ndvi_stats(spark, sf_dir):
    nd = build_ndvi(spark, engine_dir(sf_dir))
    return nd.filter(F.col("ndvi_mean").isNotNull()).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("year").cast("long").alias("year"),
        "season",
        "scene_id",
        "ndvi_mean",
        "ndvi_min",
        "ndvi_max",
        "ndvi_std",
        "ndvi_median",
        "valid_pixels",
        "total_pixels",
        "masked_pixels",
    )


def _q_ndvi_utm(spark, sf_dir):
    """Cross-CRS NDVI (G4 + R5, the reference's native read path:
    fulfilment.py:264-271 transforms the 4326 AOI bbox into the scene's UTM
    CRS before every windowed read; 321-354 warps results back): summer
    sentinel frames joined to the UTM-scene dimension, windowed on the
    metric grid via the vendored Karney transform, masked NDVI warped back
    onto the AOI's geographic bbox. Oracle: sequential pipeline with the
    independent straight-line transcription of the same published series
    (oracle/kernels.tm_*, warp_utm_to_geographic)."""
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import ndvi_stats_utm
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        spatial_join_best_scene,
    )

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    best = spatial_join_best_scene(
        aois, t["scenes"], t["frames"], RUN_DATE_START, RUN_DATE_END
    ).filter(
        (F.col("season") == "summer")
        & (F.col("ndvi_collection") == "sentinel-2-l2a")
    )
    utm = spark.read.parquet(f"{ed}/utm_scenes.parquet")
    nd = ndvi_stats_utm(best.join(F.broadcast(utm), "scene_id"))
    return nd.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("year").cast("long").alias("year"),
        "scene_id",
        "epsg",
        F.col("win_row0").cast("long").alias("win_row0"),
        F.col("win_row1").cast("long").alias("win_row1"),
        F.col("win_col0").cast("long").alias("win_col0"),
        F.col("win_col1").cast("long").alias("win_col1"),
        "ndvi_mean",
        "ndvi_median",
        F.col("valid_pixels").cast("long").alias("valid_pixels"),
        F.col("total_pixels").cast("long").alias("total_pixels"),
        F.col("masked_pixels").cast("long").alias("masked_pixels"),
        F.col("reproj_valid_pixels").cast("long").alias("reproj_valid_pixels"),
        "reproj_mean",
    )


def _q_season_changes(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes

    nd = build_ndvi(spark, engine_dir(sf_dir))
    ch = season_changes(nd)
    return ch.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "season",
        F.col("year_from").cast("long").alias("year_from"),
        F.col("year_to").cast("long").alias("year_to"),
        "label",
        "mean_delta",
        "median_delta",
        "std_delta",
        "min_delta",
        "max_delta",
        "loss_ha",
        "gain_ha",
        "stable_ha",
        "total_ha",
        "loss_pct",
        "gain_pct",
        "valid_change_pixels",
    )


def _q_change_summary(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )

    nd = build_ndvi(spark, engine_dir(sf_dir))
    return change_summary_per_aoi(season_changes(nd)).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "comparisons",
        "total_loss_ha",
        "total_gain_ha",
        "avg_mean_delta",
        "trajectory",
    )


def _q_ndvi_trend(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.metrics import ndvi_trend_per_aoi

    nd = build_ndvi(spark, engine_dir(sf_dir))
    return ndvi_trend_per_aoi(nd).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "direction",
        "observations",
        "slope_per_frame",
        "earliest_mean",
        "latest_mean",
        "overall_change",
        "overall_change_pct",
        "max_consecutive_drop",
        "max_drop_frame_id",
        "coefficient_of_variation",
        "mean_ndvi",
        "std_ndvi",
        "health_class",
    )


def _q_cluster(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.cluster import cluster_aois

    aois = build_aois(spark, engine_dir(sf_dir))
    return cluster_aois(aois).select(
        "url", F.col("feature_index").cast("long").alias("feature_index"), "cluster_key"
    )


def _q_wdpa_overlap(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.pip import wdpa_overlap

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    return wdpa_overlap(aois, t["protected_areas"]).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("wdpa_id").cast("long").alias("wdpa_id"),
        "pa_name",
        "designation",
        "iucn_category",
    )


def _q_weather_summary(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        aoi_region,
        weather_summary_per_aoi,
    )

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = aoi_region(build_aois(spark, ed), t["regions"])
    return weather_summary_per_aoi(
        aois, t["weather_daily"], RUN_DATE_START, RUN_DATE_END
    ).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "observation_days",
        "temp_mean_c",
        "temp_min_c",
        "temp_max_c",
        "precip_total_mm",
        "precip_days",
    )


def _q_monthly_weather(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        monthly_weather_rollup,
    )

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    return monthly_weather_rollup(t["weather_daily"])


def _q_monthly_frames(spark, sf_dir):
    """Monthly-cadence frame plan (the 'monthly' branch of the frame
    generator, reference frames.py:111-129 incl. the calendar month-end
    semantics) joined per region against daily weather: the DuckDB oracle
    re-derives every month window with make_date/interval arithmetic, so
    frame_id positions, start dates and month-end dates (incl. leap-year
    February) are pinned bit-for-bit."""
    from azure_workflow_for_kml_satellite_spark.sources.frames import (
        build_frame_rows,
        filter_frames,
    )

    rows = filter_frames(
        build_frame_rows(False, cadence="monthly"), RUN_DATE_START, RUN_DATE_END
    )
    frames = spark.createDataFrame(
        [(f["frame_id"], f["year"], f["season"], f["start"], f["end"]) for f in rows],
        "frame_id long, year long, month_key string, date_start string, date_end string",
    )
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        weather_series_agg,
        weather_series_fold,
    )

    ed = engine_dir(sf_dir)
    w = load_tables(spark, ed)["weather_daily"]
    joined = w.join(
        F.broadcast(frames),
        (F.col("date") >= F.to_date("date_start")) & (F.col("date") <= F.to_date("date_end")),
    )
    # 1-dp rounded float aggregates are folded in date order (the repo-wide
    # order-pinned discipline, see weather_summary_per_aoi) so the result is
    # bit-identical under any shuffle layout; the oracle pins the same order
    # with sum(x ORDER BY date).
    series = weather_series_agg()
    return (
        joined.groupBy("frame_id", "year", "month_key", "date_start", "date_end", "region")
        .agg(
            F.count("*").alias("observation_days"),
            F.count("temp_c").alias("n_temp"),
            F.count("precip_mm").alias("n_precip"),
            series.alias("series"),
        )
        .withColumn(
            "temp_mean_c",
            F.when(
                F.col("n_temp") > 0,
                F.round(
                    weather_series_fold(F.col("series"), "temp_c") / F.col("n_temp"), 1
                ),
            ),
        )
        .withColumn(
            "precip_total_mm",
            F.when(
                F.col("n_precip") > 0,
                F.round(weather_series_fold(F.col("series"), "precip_mm"), 1),
            ),
        )
        .select(
            "frame_id",
            "year",
            "month_key",
            "date_start",
            "date_end",
            "region",
            "observation_days",
            "temp_mean_c",
            "precip_total_mm",
        )
    )


def _q_knn_gauges(spark, sf_dir):
    """Spatial kNN join (north star: 'point-in-polygon, kNN, …'): the 3
    nearest flood gauges per AOI centroid by haversine — exact broadcast
    join (candidates are a dimension table by contract)."""
    from azure_workflow_for_kml_satellite_spark.operators.knn import knn_join_broadcast

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    return knn_join_broadcast(aois, t["flood_gauges"], k=3).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("cand_id").alias("station_id"),
        "distance_km",
        F.col("rank").cast("long").alias("rank"),
    )


def _q_fire_summary(spark, sf_dir):
    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    fires = F.broadcast(t["fire_events"])
    joined = aois.select(
        "url", "feature_index", "buf_min_lon", "buf_min_lat", "buf_max_lon", "buf_max_lat"
    ).join(
        fires,
        (F.col("longitude") >= F.col("buf_min_lon"))
        & (F.col("longitude") <= F.col("buf_max_lon"))
        & (F.col("latitude") >= F.col("buf_min_lat"))
        & (F.col("latitude") <= F.col("buf_max_lat")),
        "inner",
    )
    return joined.groupBy("url", "feature_index").agg(
        F.count("*").alias("n_events"),
        F.count_if(F.col("confidence") == "h").alias("n_high_conf"),
        F.max("frp").alias("max_frp"),
    ).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "n_events",
        "n_high_conf",
        "max_frp",
    )


def _q_flood_summary(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.flood import (
        flood_summary_per_aoi,
    )

    ed = engine_dir(sf_dir)
    aois = build_aois(spark, ed)
    gauges = spark.read.parquet(f"{ed}/flood_gauges.parquet")
    return flood_summary_per_aoi(aois, gauges).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "flood_source",
        "n_gauges",
        "max_level_m",
    )


def _q_display_annotations(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import display_gsd_m

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    frames = F.broadcast(t["frames"])
    j = aois.select("url", "feature_index", "has_naip", "max_span_m").join(
        frames, F.col("has_naip") == F.col("naip_variant"), "inner"
    )
    gsd = display_gsd_m(F.col("collection"), F.col("year"))
    est = F.col("max_span_m") / gsd
    suitable = est >= RGB_DISPLAY_MIN_PIXELS
    return j.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("frame_id").cast("long").alias("frame_id"),
        "naip_variant",
        gsd.alias("display_resolution_m"),
        F.round(est, 1).alias("estimated_display_pixels"),
        suitable.alias("rgb_display_suitable"),
        F.when(suitable, F.lit("rgb")).otherwise(F.lit("ndvi")).alias("preferred_layer"),
    )


def _q_landsat_baseline(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.eudr import landsat_baseline

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed)
    return landsat_baseline(aois, t["scenes"]).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("window_id").cast("long").alias("window_id"),
        "scene_id",
        "cloud_cover",
        "ndvi_mean",
        "valid_pixels",
    )


def _q_pipeline_summary(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.extract import extract_features
    from azure_workflow_for_kml_satellite_spark.operators.metrics import pipeline_summary

    ed = engine_dir(sf_dir)
    pages = spark.read.parquet(f"{ed}/pages.parquet").repartition(32)
    feats = extract_features(pages)
    nd = build_ndvi(spark, ed)
    return pipeline_summary(feats, nd)


def _q_portfolio(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        geometry_metrics,
        ndvi_trend_per_aoi,
        portfolio_summary,
    )

    ed = engine_dir(sf_dir)
    aois = build_aois(spark, ed).cache()
    nd = build_ndvi(spark, ed)
    return portfolio_summary(
        geometry_metrics(aois),
        ndvi_trend_per_aoi(nd),
        change_summary_per_aoi(season_changes(nd)),
    )


def _q_eudr_report(spark, sf_dir):
    """S20: per-document due-diligence report. The query exposes the
    report's full logical CONTENT (report_text — every header, summary
    counter, NDVI-trend histogram line, vegetation-table row, and per-parcel
    evidence line), the parcel count, AND the md5 of the deterministic PDF
    1.4 byte stream — all hash-checked against the sequential oracle, whose
    report text and PDF are assembled by independent transcriptions
    (oracle/sequential.py report loop + oracle/pdfdoc.py renderer), so the
    rendering layout (reference export.py:512-1533) is oracled too."""
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        ndvi_trend_per_aoi,
    )
    from azure_workflow_for_kml_satellite_spark.operators.reports import (
        eudr_report_pdfs,
    )

    ed = engine_dir(sf_dir)
    aois = build_aois(spark, ed)
    nd = build_ndvi(spark, ed)
    det = _q_determination(spark, sf_dir)
    pdfs = eudr_report_pdfs(
        aois,
        ndvi_trend_per_aoi(nd),
        change_summary_per_aoi(season_changes(nd)),
        det,
    )
    return pdfs.select(
        "url",
        F.col("n_parcels").cast("long").alias("n_parcels"),
        "report_text",
        F.md5("report_pdf").alias("pdf_md5"),
    )


def _q_worldcover_hist(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.eudr import (
        class_histogram_per_aoi,
    )

    aois = build_aois(spark, engine_dir(sf_dir))
    return class_histogram_per_aoi(aois).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "layer",
        "class_code",
        "pixel_count",
        "area_pct",
        "rank",
    )


def _q_lulc_trend(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.eudr import lulc_tree_trend

    aois = build_aois(spark, engine_dir(sf_dir))
    return lulc_tree_trend(aois).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "tree_pct_first",
        "tree_pct_last",
        "tree_pct_min",
        "tree_pct_max",
        "change_detected",
        "tree_cover_trend",
    )


def _q_determination(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    aois = build_aois(spark, ed).cache()
    ch = season_changes(build_ndvi(spark, ed)).cache()
    return eudr_determination(aois, ch, t["protected_areas"]).select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "deforestation_free",
        "confidence",
        "flags",
    )


# ── testdata queries (training-data ops; genuine SQL oracles) ────────────────


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_dedup_exact(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir)).select("keep_doc_id", "n_docs")


def _q_ngram_jaccard(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def _q_ngram_jaccard_capped(spark, sf_dir):
    """The DF-capped candidate path (scale variant of q_ngram_jaccard): at
    sf0.01 the max shingle document-frequency is 7, so cap=20 provably
    changes nothing and the exact SQL oracle applies verbatim — the gate
    then checks the capped candidate+verify plumbing end-to-end."""
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5, max_shingle_df=20
    )


def _q_minhash_lsh(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


def _q_simhash(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def _q_sample_hash(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.sampling import hash_sample

    return hash_sample(_docs(spark, sf_dir), rate_permille=100)


def _q_sample_stratified(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.sampling import (
        stratified_sample,
    )

    return stratified_sample(_docs(spark, sf_dir), per_stratum=50)


def _q_dedup_clusters(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    docs = _docs(spark, sf_dir)
    return near_dup_clusters(docs, minhash_lsh_pairs(docs, threshold=0.5))


def _q_simhash_pairs(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    return simhash_hamming_pairs(_docs(spark, sf_dir), max_distance=3)


def _q_token_stats(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.text import token_stats

    return token_stats(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_units").cast("long").alias("n_bpe_units"),
        F.col("n_chars_measured").cast("long").alias("n_chars_measured"),
    )


def _q_quality_score(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.text import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len",
        "stopword_ratio",
        "punct_ratio",
        "quality_score",
    )


def _q_language_id(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.text import language_id

    return language_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _q_cell_density(spark, sf_dir):
    """AOI density per grid cell — the H3/S2-style polyfill rollup (cells.py
    id layout (res<<52)|(ix<<26)|iy reproduced arithmetically by the DuckDB
    oracle). Sum order pinned by (url, feature_index) sorted-array fold so
    the 2-dp rounding is partition-order-insensitive."""
    from azure_workflow_for_kml_satellite_spark.operators.spatial_join import (
        cell_id,
        cell_ix,
        cell_iy,
    )

    aois = build_aois(spark, engine_dir(sf_dir))
    res = DEFAULT_CELL_RES
    # clamped to the grid like cells.cell_of, so domain-edge points (lon=180,
    # lat=90) share ids with every other cell-indexed operator
    cell = cell_id(cell_ix("centroid_lon", res), cell_iy("centroid_lat", res), res)
    with_cell = aois.select(
        cell.alias("cell_id"), "url", "feature_index", "area_ha"
    )
    series = F.array_sort(
        F.collect_list(F.struct("url", "feature_index", "area_ha"))
    )
    folded = F.aggregate(
        series, F.lit(0.0), lambda acc, x: acc + x["area_ha"]
    )
    return (
        with_cell.groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_aois"),
            F.round(folded, 2).alias("total_area_ha"),
        )
    )


def _q_page_text(spark, sf_dir):
    """North-rule byte-identity gate (BASELINE.json input_hint): re-extract
    visible text from each page's html with the engine pipeline
    (functions/kml.extract_text in the operators/rows.map_rows row mapper)
    and md5 it; the oracle holds md5 of the INDEPENDENT find()-scanner
    extraction (oracle/kernels.visible_text) — the two agree only if both
    implement the public rule correctly, byte for byte, per url."""
    import hashlib

    from pyspark.sql import types as T

    from azure_workflow_for_kml_satellite_spark.functions.kml import extract_text
    from azure_workflow_for_kml_satellite_spark.operators.rows import map_rows

    pages = spark.read.parquet(f"{engine_dir(sf_dir)}/pages.parquet")
    return map_rows(
        pages.select("url", "html"),
        ["url"],
        ["html"],
        [T.StructField("text_md5", T.StringType())],
        lambda rec: [
            {"text_md5": hashlib.md5(extract_text(bytes(rec["html"])).encode("utf-8")).hexdigest()}
        ],
    )


def _q_coord_text(spark, sf_dir):
    """S5 pasted-coordinates gate: the engine's regex parser + buffer-circle
    construction (operators/coords.py) over the coord_requests table vs the
    oracle's independent tokenizer + its own circle math
    (oracle/kernels.parse_coordinate_request; 120k-case differential fuzz in
    test_property_fuzz). Ring values are compared via vertex count + an
    order-pinned left-fold sum."""
    from azure_workflow_for_kml_satellite_spark.operators.coords import (
        coordinate_text_features,
    )

    reqs = spark.read.parquet(f"{engine_dir(sf_dir)}/coord_requests.parquet")
    feats = coordinate_text_features(reqs)
    ring_sum = F.aggregate("exterior", F.lit(0.0), lambda acc, x: acc + x)
    return feats.select(
        "source",
        F.col("feature_index").cast("long").alias("feature_index"),
        "name",
        (F.size("exterior") / 2).cast("long").alias("vertex_count"),
        F.round(ring_sum, 6).alias("ring_sum"),
        "error",
    )


def _q_coord_csv(spark, sf_dir):
    """S6 CSV-points gate: the engine's fuzzy-column parser
    (operators/coords.py::csv_point_features) over the csv_points table vs
    the oracle's independent matcher + circle math
    (oracle/kernels.parse_csv_points; 60k-case matcher fuzz in
    test_property_fuzz)."""
    from azure_workflow_for_kml_satellite_spark.operators.coords import (
        csv_point_features,
    )

    pts = spark.read.parquet(f"{engine_dir(sf_dir)}/csv_points.parquet").coalesce(1)
    feats = csv_point_features(pts)
    ring_sum = F.aggregate("exterior", F.lit(0.0), lambda acc, x: acc + x)
    return feats.select(
        "source",
        F.col("feature_index").cast("long").alias("feature_index"),
        "name",
        (F.size("exterior") / 2).cast("long").alias("vertex_count"),
        F.round(ring_sum, 6).alias("ring_sum"),
        "error",
    )


def _q_geojson(spark, sf_dir):
    """S17 GeoJSON-export gate: the engine assembles the per-AOI
    FeatureCollection (operators/exports.py::geojson_per_aoi, JVM to_json),
    the query parses it BACK with from_json and exposes structural +
    content fields; the oracle recomputes those fields from its
    independently-built expected tables (frame counts/order via
    best_scenes, first-frame label/NDVI, summary change fields). The raw
    string IS hashed too (geojson_md5): numeric properties are fixed-scale
    decimals so the Jackson rendering is deterministic, and the oracle
    re-assembles the whole FeatureCollection independently
    (oracle/sequential.py geojson section)."""
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )
    from azure_workflow_for_kml_satellite_spark.operators.exports import geojson_per_aoi
    from azure_workflow_for_kml_satellite_spark.pipeline import build_aois, build_ndvi

    ed = engine_dir(sf_dir)
    nd = build_ndvi(spark, ed)
    aois = build_aois(spark, ed)
    gj = geojson_per_aoi(aois, nd, change_summary_per_aoi(season_changes(nd)))
    schema = (
        "STRUCT<type: STRING, features: ARRAY<STRUCT<type: STRING, "
        "geometry: STRUCT<type: STRING>, "
        "properties: STRUCT<label: STRING, ndvi_mean: DOUBLE, type: STRING, "
        "change_detection_summary: STRUCT<comparisons: INT, trajectory: STRING>>>>>"
    )
    doc = F.from_json("geojson", schema)
    feats = doc["features"]
    first = F.element_at(feats, 1)
    last = F.element_at(feats, -1)
    return gj.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.size(feats).cast("long").alias("n_features"),
        last["geometry"]["type"].alias("last_geom_type"),
        first["properties"]["label"].alias("first_label"),
        first["properties"]["ndvi_mean"].alias("first_ndvi"),
        last["properties"]["change_detection_summary"]["comparisons"]
        .cast("long")
        .alias("comparisons"),
        last["properties"]["change_detection_summary"]["trajectory"].alias("trajectory"),
        F.md5("geojson").alias("geojson_md5"),
    )


def _q_frame_csv(spark, sf_dir):
    """S18 per-frame CSV gate: the engine's export rows (NDVI stats +
    (season, year_to) change-delta lookup + weather range-joined into the
    frame window with an order-pinned fold) vs an oracle that re-derives
    every column in DuckDB from the independently built expected tables +
    raw dimension parquet (frames/scenes/regions/weather)."""
    from azure_workflow_for_kml_satellite_spark.operators.change import season_changes
    from azure_workflow_for_kml_satellite_spark.operators.exports import frame_csv_rows
    from azure_workflow_for_kml_satellite_spark.operators.metrics import aoi_region
    from azure_workflow_for_kml_satellite_spark.pipeline import (
        build_aois,
        build_ndvi,
        load_tables,
    )

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    nd = build_ndvi(spark, ed)
    aois = aoi_region(build_aois(spark, ed), t["regions"])
    rows = frame_csv_rows(nd, season_changes(nd), aois, t["weather_daily"])
    return rows.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        F.col("frame_index").cast("long").alias("frame_index"),
        "label",
        F.col("year").cast("long").alias("year"),
        "season",
        "start_date",
        "end_date",
        "collection",
        "is_naip",
        "ndvi_scene_id",
        F.col("resolution_m").cast("double").alias("resolution_m"),
        F.col("cloud_cover_pct").cast("double").alias("cloud_cover_pct"),
        "ndvi_mean",
        "ndvi_min",
        "ndvi_max",
        "ndvi_std",
        "ndvi_change_from_previous",
        "mean_temp_c",
        "total_precip_mm",
    )


def _q_aoi_csv(spark, sf_dir):
    """S19 per-AOI bulk CSV gate: the engine's metrics-join export
    (geometry block + NDVI trend + change summary + weather summary) vs an
    oracle assembling the same columns from expected tables + DuckDB
    weather/geometry SQL."""
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_summary_per_aoi,
        season_changes,
    )
    from azure_workflow_for_kml_satellite_spark.operators.exports import aoi_csv_rows
    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        aoi_region,
        geometry_metrics,
        ndvi_trend_per_aoi,
        weather_summary_per_aoi,
    )
    from azure_workflow_for_kml_satellite_spark.pipeline import (
        build_aois,
        build_ndvi,
        load_tables,
    )

    ed = engine_dir(sf_dir)
    t = load_tables(spark, ed)
    nd = build_ndvi(spark, ed)
    aois = build_aois(spark, ed)
    rows = aoi_csv_rows(
        geometry_metrics(aois),
        ndvi_trend_per_aoi(nd),
        change_summary_per_aoi(season_changes(nd)),
        weather_summary_per_aoi(
            aoi_region(aois, t["regions"]), t["weather_daily"],
            RUN_DATE_START, RUN_DATE_END,
        ),
    )
    return rows.select(
        "url",
        F.col("feature_index").cast("long").alias("feature_index"),
        "name",
        "area_ha",
        "area_km2",
        "perimeter_km",
        "compactness",
        "centroid_lon",
        "centroid_lat",
        "bbox_width_km",
        "bbox_height_km",
        "direction",
        "latest_mean",
        "health_class",
        F.col("comparisons").cast("long").alias("comparisons"),
        "total_loss_ha",
        "total_gain_ha",
        "trajectory",
        "temp_mean_c",
        "precip_total_mm",
    )


def _q_source_stats(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.text import source_stats

    return source_stats(_docs(spark, sf_dir))


_ANN_QUERY_IDS = list(range(10))


def _q_embed_near_dup(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(emb, threshold=0.4)


def _q_embed_near_dup_lsh(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # banded random-hyperplane candidates + exact-cosine verify; at τ=0.4 the
    # adaptive shape is (r=2, b=23) → recall ≥ 0.99999 at the threshold
    # (measured at sf0.01: 59/59 pairs, identical to the exact all-pairs op)
    return embedding_near_dup_lsh(emb, threshold=0.4)


def _q_ann_topk(spark, sf_dir):
    from azure_workflow_for_kml_satellite_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(emb, _ANN_QUERY_IDS, k=10).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_lsh(spark, sf_dir):
    """Banded RH-LSH ANN at the provable-equality operating point: the
    coverage band makes the candidate set provably complete, so the identical
    banded machinery (explode → bucket equi-join → dedup → exact verify →
    top-k) is checked against the exact-cosine DuckDB oracle (the
    q_ngram_jaccard_capped pattern). The pruned operating point is
    benchmarked in bench.py and recall-tested in tests."""
    from azure_workflow_for_kml_satellite_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_topk(emb, _ANN_QUERY_IDS, k=10, coverage_band=True).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN at the provable-equality operating point
    n_probe == n_centroids: every inverted list is probed, so the
    train → assign → probe-join → exact-score pipeline provably equals
    brute_force_topk and the exact-cosine DuckDB oracle applies. The pruned
    operating point (n_probe=4) is benchmarked in bench.py and recall-tested
    in tests/test_dedup_scale_ops.py."""
    from azure_workflow_for_kml_satellite_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, _ANN_QUERY_IDS, k=10, n_centroids=16, n_probe=16).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def _q_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: derive epoch seconds via pure-NTZ arithmetic so no
    # session-timezone reinterpretation can occur (unix_timestamp would go
    # through spark.sql.session.timeZone, which the driver may not pin)
    epoch_s = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    gap = epoch_s - F.lag(epoch_s).over(w)
    with_s = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_session").over(w))
    return with_s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(epoch_s) - F.min(epoch_s)).alias("duration_s"),
    )


def _q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


def _q_top_customers(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))
    top = rev.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 20)
    return top.join(F.broadcast(c), top.o_custkey == c.c_custkey).select(
        F.col("o_custkey").alias("custkey"),
        "c_name",
        "revenue",
        F.col("rank").cast("long").alias("rank"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the correctness driver checks the FIRST 50 entries of
    # this dict.  Queries that have not yet been driver-verified come first;
    # oracle-sharing twins (same oracle SQL as their base query) and
    # multi-round-green trivial queries sit past the 50-entry window.
    return {
        # — round 7 rotation (VERDICT r6 task 3): the 11 queries with no
        # driver row since r2-r5 (ANN trio, streaming pair, pricing pair,
        # cell/tile/capped variants, exact-cosine baseline)
        # rotate back INTO the window. Out: the r5+r6 consecutive-green
        # decode/text entries plus the r3+r6 export queries — all stay
        # covered every round by the full-set local gate (make gate) and
        # pytest goldens. q_embed_near_dup_lsh stays in. —
        "q_embed_near_dup_lsh": _q_embed_near_dup_lsh,
        "q_ann_lsh": _q_ann_lsh,
        "q_ann_ivf": _q_ann_ivf,
        "q_ann_topk": _q_ann_topk,
        "q_embed_near_dup": _q_embed_near_dup,
        "q_events_hourly": _q_events_hourly,
        "q_sessionize": _q_sessionize,
        "q_pricing_summary": _q_pricing_summary,
        "q_top_customers": _q_top_customers,
        "q_cell_density": _q_cell_density,
        "q_tile_assignment": _q_tile_assignment,
        "q_ngram_jaccard_capped": _q_ngram_jaccard_capped,
        # — previously green (CORRECTNESS_r03 + r6) —
        "q_extract_features": _q_extract_features,
        "q_quarantine": _q_quarantine,
        "q_aoi_prep": _q_aoi_prep,
        "q_spatial_join": _q_spatial_join,
        "q_display_scene": _q_display_scene,
        "q_ndvi_stats": _q_ndvi_stats,
        "q_ndvi_utm": _q_ndvi_utm,
        "q_season_changes": _q_season_changes,
        "q_change_summary": _q_change_summary,
        "q_ndvi_trend": _q_ndvi_trend,
        "q_cluster": _q_cluster,
        "q_wdpa_overlap": _q_wdpa_overlap,
        "q_weather_summary": _q_weather_summary,
        "q_monthly_weather": _q_monthly_weather,
        "q_monthly_frames": _q_monthly_frames,
        "q_knn_gauges": _q_knn_gauges,
        "q_fire_summary": _q_fire_summary,
        "q_flood_summary": _q_flood_summary,
        "q_display_annotations": _q_display_annotations,
        "q_landsat_baseline": _q_landsat_baseline,
        "q_pipeline_summary": _q_pipeline_summary,
        "q_portfolio": _q_portfolio,
        "q_eudr_report": _q_eudr_report,
        "q_worldcover_hist": _q_worldcover_hist,
        "q_lulc_trend": _q_lulc_trend,
        "q_determination": _q_determination,
        "q_ngram_jaccard": _q_ngram_jaccard,
        "q_minhash_lsh": _q_minhash_lsh,
        "q_simhash_pairs": _q_simhash_pairs,
        "q_dedup_clusters": _q_dedup_clusters,
        "q_token_stats": _q_token_stats,
        "q_language_id": _q_language_id,
        "q_source_stats": _q_source_stats,
        "q_coord_text": _q_coord_text,
        "q_geojson": _q_geojson,
        "q_frame_csv": _q_frame_csv,
        "q_aoi_csv": _q_aoi_csv,
        "q_page_text": _q_page_text,
        # ── entries below are PAST the driver's 50-query window ──
        # r5+r6 (decode/text block) and r3+r6 (exports) consecutive-green
        # queries rotated out; the full-set local gate
        # (scripts/check_correctness.py --exact) keeps covering all of
        # them every round, plus their pytest goldens.
        "q_coord_csv": _q_coord_csv,
        "q_dedup_exact": _q_dedup_exact,
        "q_sample_stratified": _q_sample_stratified,
        "q_quality_score": _q_quality_score,
        "q_simhash": _q_simhash,
        "q_sample_hash": _q_sample_hash,
        "q_fingerprint": _q_fingerprint,
    }


# ── oracle SQL ───────────────────────────────────────────────────────────────

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
    FROM toks, UNNEST(generate_series(1, len(t)-2)) AS g(i)
    WHERE len(t) >= 3
    UNION ALL
    SELECT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < 3
  )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""

_STOPWORDS_SQL = "('the','and','of','to','in','a','is','it','for','on','with','as')"

# — shared oracle-SQL fragments (hoisted: each used by several queries) —

# display ground-sample-distance ladder (reference display.py fallback
# ladder; engine: __spark_entry__._q_display_annotations)
_GSD_SQL = """CASE WHEN fr.collection LIKE 'naip%' AND fr.year <= 2014 THEN 1.0
                    WHEN fr.collection = 'naip' THEN 0.6
                    WHEN fr.collection = 'sentinel-2-l2a' THEN 10.0
                    WHEN fr.collection = 'landsat-c2-l2' THEN 30.0
                    ELSE 10.0 END"""

# order-pinned weather folds (mirror the engine's date-sorted sequential
# F.aggregate fold — see operators/metrics.weather_series_fold)
_TEMP_MEAN_FOLD = "round(sum(w.temp_c ORDER BY w.date) / count(w.temp_c), 1)"


def _precip_total_fold(guard_col: str) -> str:
    return (
        f"CASE WHEN count(w.{guard_col}) > 0 "
        "THEN round(sum(w.precip_mm ORDER BY w.date), 1) END"
    )


def _region_join_cte(aoi_src: str) -> str:
    """The centroid-in-region bbox join every weather oracle shares."""
    return f"""
          SELECT a.url, a.feature_index, r.region
          FROM {aoi_src} a
          LEFT JOIN read_parquet('{_E}/regions.parquet') r
            ON a.centroid_lon >= r.min_lon AND a.centroid_lon <= r.max_lon
           AND a.centroid_lat >= r.min_lat AND a.centroid_lat <= r.max_lat"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    # — expected-parquet oracles (sequential pure-Python pipeline) —
    sql["q_extract_features"] = (
        f"SELECT url, feature_index, name, dedup_key, vertex_count, has_holes "
        f"FROM read_parquet('{_E}/expected/features.parquet')"
    )
    sql["q_quarantine"] = f"SELECT url, error FROM read_parquet('{_E}/expected/quarantine.parquet')"
    sql["q_aoi_prep"] = (
        "SELECT url, feature_index, name, min_lon, min_lat, max_lon, max_lat, "
        "buf_min_lon, buf_min_lat, buf_max_lon, buf_max_lat, area_ha, perimeter_km, "
        "centroid_lon, centroid_lat, area_warning, has_naip, max_span_m "
        f"FROM read_parquet('{_E}/expected/aois.parquet')"
    )
    sql["q_spatial_join"] = (
        "SELECT url, feature_index, frame_id, naip_variant, year, season, scene_id, "
        f"cloud_cover FROM read_parquet('{_E}/expected/best_scenes.parquet')"
    )
    sql["q_display_scene"] = (
        "SELECT url, feature_index, frame_id, naip_variant, display_collection, "
        f"scene_id, fallback_used FROM read_parquet('{_E}/expected/display_scenes.parquet')"
    )
    sql["q_ndvi_stats"] = (
        "SELECT url, feature_index, year, season, scene_id, ndvi_mean, ndvi_min, "
        "ndvi_max, ndvi_std, ndvi_median, valid_pixels, total_pixels, masked_pixels "
        f"FROM read_parquet('{_E}/expected/ndvi_stats.parquet')"
    )
    sql["q_ndvi_utm"] = (
        "SELECT url, feature_index, year, scene_id, epsg, "
        "win_row0, win_row1, win_col0, win_col1, ndvi_mean, ndvi_median, "
        "valid_pixels, total_pixels, masked_pixels, reproj_valid_pixels, reproj_mean "
        f"FROM read_parquet('{_E}/expected/ndvi_utm.parquet')"
    )
    sql["q_season_changes"] = (
        "SELECT url, feature_index, season, year_from, year_to, label, mean_delta, "
        "median_delta, std_delta, min_delta, max_delta, loss_ha, gain_ha, stable_ha, "
        "total_ha, loss_pct, gain_pct, valid_change_pixels "
        f"FROM read_parquet('{_E}/expected/season_changes.parquet')"
    )
    sql["q_change_summary"] = (
        "SELECT url, feature_index, comparisons, total_loss_ha, total_gain_ha, "
        f"avg_mean_delta, trajectory FROM read_parquet('{_E}/expected/change_summary.parquet')"
    )
    sql["q_ndvi_trend"] = (
        "SELECT url, feature_index, direction, observations, slope_per_frame, "
        "earliest_mean, latest_mean, overall_change, overall_change_pct, "
        "max_consecutive_drop, max_drop_frame_id, coefficient_of_variation, "
        f"mean_ndvi, std_ndvi, health_class FROM read_parquet('{_E}/expected/ndvi_trend.parquet')"
    )
    sql["q_cluster"] = (
        f"SELECT url, feature_index, cluster_key FROM read_parquet('{_E}/expected/clusters.parquet')"
    )
    sql["q_wdpa_overlap"] = (
        "SELECT url, feature_index, wdpa_id, pa_name, designation, iucn_category "
        f"FROM read_parquet('{_E}/expected/wdpa_overlap.parquet')"
    )

    sql["q_landsat_baseline"] = (
        "SELECT url, feature_index, window_id, scene_id, cloud_cover, ndvi_mean, "
        f"valid_pixels FROM read_parquet('{_E}/expected/landsat_baseline.parquet')"
    )
    sql["q_pipeline_summary"] = f"""
        SELECT f.n_features, q.n_quarantined, n.n_aoi_frames, n.n_ndvi_ok,
               (n.n_aoi_frames - n.n_ndvi_ok) AS n_ndvi_missing,
               CASE WHEN q.n_quarantined = 0 THEN 'completed'
                    ELSE 'completed_with_errors' END AS status
        FROM (SELECT count(*) AS n_features
              FROM read_parquet('{_E}/expected/features.parquet')) f,
             (SELECT count(*) AS n_quarantined
              FROM read_parquet('{_E}/expected/quarantine.parquet')) q,
             (SELECT (SELECT count(*) FROM read_parquet('{_E}/expected/best_scenes.parquet')) AS n_aoi_frames,
                     count(*) AS n_ndvi_ok
              FROM read_parquet('{_E}/expected/ndvi_stats.parquet')) n
    """
    # q_portfolio: the operator reduces each partition to exact Shewchuk
    # expansion partials and merges them with fsum — correctly-rounded exact
    # sums, so the sequential oracle's math.fsum reproduces the single row
    # bit-for-bit under any partitioning.
    sql["q_portfolio"] = (
        "SELECT aoi_count, total_area_ha, total_perimeter_km, weighted_mean_ndvi, "
        "total_loss_ha, total_gain_ha, net_change_ha "
        f"FROM read_parquet('{_E}/expected/portfolio.parquet')"
    )
    sql["q_worldcover_hist"] = (
        "SELECT url, feature_index, layer, class_code, pixel_count, area_pct, rank "
        f"FROM read_parquet('{_E}/expected/worldcover_hist.parquet')"
    )
    sql["q_lulc_trend"] = (
        "SELECT url, feature_index, tree_pct_first, tree_pct_last, tree_pct_min, "
        "tree_pct_max, change_detected, tree_cover_trend "
        f"FROM read_parquet('{_E}/expected/lulc_trend.parquet')"
    )
    sql["q_determination"] = (
        "SELECT url, feature_index, deforestation_free, confidence, flags "
        f"FROM read_parquet('{_E}/expected/determination.parquet')"
    )
    sql["q_eudr_report"] = (
        "SELECT url, n_parcels, report_text, pdf_md5 "
        f"FROM read_parquet('{_E}/expected/eudr_report.parquet')"
    )

    # — genuine SQL re-derivations over engine tables —
    sql["q_tile_assignment"] = f"""
        SELECT a.url, a.feature_index, s.scene_id
        FROM read_parquet('{_E}/expected/aois.parquet') a
        JOIN read_parquet('{_E}/scenes.parquet') s
          ON s.collection = 'sentinel-2-l2a'
         AND s.datetime >= TIMESTAMP '2023-06-01'
         AND s.datetime <  TIMESTAMP '2023-07-01'
         AND a.buf_min_lon <= s.max_lon AND s.min_lon <= a.buf_max_lon
         AND a.buf_min_lat <= s.max_lat AND s.min_lat <= a.buf_max_lat
    """
    sql["q_weather_summary"] = f"""
        WITH ar AS ({_region_join_cte(f"read_parquet('{_E}/expected/aois.parquet')")}),
        w AS (SELECT * FROM read_parquet('{_E}/weather_daily.parquet')
              WHERE date >= DATE '{RUN_DATE_START}' AND date <= DATE '{RUN_DATE_END}')
        SELECT ar.url, ar.feature_index,
               count(w.temp_c) AS observation_days,
               {_TEMP_MEAN_FOLD} AS temp_mean_c,
               round(min(w.temp_c), 1) AS temp_min_c,
               round(max(w.temp_c), 1) AS temp_max_c,
               {_precip_total_fold("temp_c")} AS precip_total_mm,
               CAST(coalesce(sum(CASE WHEN w.precip_mm > 0.1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS precip_days
        FROM ar LEFT JOIN w USING (region)
        GROUP BY ar.url, ar.feature_index
    """
    sql["q_monthly_weather"] = f"""
        SELECT region, strftime(date, '%Y-%m') AS month,
               round(avg(temp_c), 1) AS temp_mean_c,
               round(sum(precip_mm), 1) AS precip_total_mm
        FROM read_parquet('{_E}/weather_daily.parquet')
        GROUP BY region, month
    """
    sql["q_monthly_frames"] = f"""
        WITH months AS (
          SELECT CAST((y - 2018) * 12 + (m - 1) AS BIGINT) AS frame_id,
                 CAST(y AS BIGINT) AS year,
                 printf('m%02d', m) AS month_key,
                 make_date(y, m, 1) AS d_start,
                 CASE WHEN m = 12 THEN make_date(y, 12, 31)
                      ELSE make_date(y, m, 1) + INTERVAL 1 MONTH - INTERVAL 1 DAY
                 END AS d_end
          FROM generate_series(2018, 2026) AS ys(y),
               generate_series(1, 12) AS ms(m)
        ),
        win AS (
          SELECT * FROM months
          WHERE d_end >= DATE '{RUN_DATE_START}' AND d_start <= DATE '{RUN_DATE_END}'
        )
        SELECT win.frame_id, win.year, win.month_key,
               strftime(win.d_start, '%Y-%m-%d') AS date_start,
               strftime(win.d_end, '%Y-%m-%d') AS date_end,
               w.region,
               count(*) AS observation_days,
               CASE WHEN count(w.temp_c) > 0
                    THEN round(sum(w.temp_c ORDER BY w.date) / count(w.temp_c), 1)
               END AS temp_mean_c,
               CASE WHEN count(w.precip_mm) > 0
                    THEN round(sum(w.precip_mm ORDER BY w.date), 1)
               END AS precip_total_mm
        FROM win JOIN read_parquet('{_E}/weather_daily.parquet') w
          ON w.date >= win.d_start AND w.date <= win.d_end
        GROUP BY 1, 2, 3, 4, 5, 6
    """
    sql["q_knn_gauges"] = f"""
        WITH a AS (SELECT url, feature_index, centroid_lon, centroid_lat
                   FROM read_parquet('{_E}/expected/aois.parquet')),
        g AS (SELECT station_id, longitude, latitude
              FROM read_parquet('{_E}/flood_gauges.parquet')),
        s AS (
          SELECT a.url, a.feature_index, g.station_id,
                 power(sin(radians(g.latitude - a.centroid_lat) / 2), 2)
                   + cos(radians(a.centroid_lat)) * cos(radians(g.latitude))
                   * power(sin(radians(g.longitude - a.centroid_lon) / 2), 2) AS h
          FROM a CROSS JOIN g
        ),
        d AS (
          SELECT url, feature_index, station_id,
                 2 * 6371.0 * atan2(sqrt(h), sqrt(1.0 - h)) AS dist
          FROM s
        )
        SELECT url, feature_index, station_id,
               round(dist, 6) AS distance_km,
               CAST(row_number() OVER (PARTITION BY url, feature_index
                    ORDER BY dist ASC, station_id ASC) AS BIGINT) AS rank
        FROM d
        QUALIFY rank <= 3
    """
    sql["q_fire_summary"] = f"""
        SELECT a.url, a.feature_index, count(*) AS n_events,
               CAST(sum(CASE WHEN f.confidence = 'h' THEN 1 ELSE 0 END) AS BIGINT) AS n_high_conf,
               max(f.frp) AS max_frp
        FROM read_parquet('{_E}/expected/aois.parquet') a
        JOIN read_parquet('{_E}/fire_events.parquet') f
          ON f.longitude >= a.buf_min_lon AND f.longitude <= a.buf_max_lon
         AND f.latitude >= a.buf_min_lat AND f.latitude <= a.buf_max_lat
        GROUP BY a.url, a.feature_index
    """
    sql["q_flood_summary"] = f"""
        WITH a AS (
          SELECT url, feature_index, buf_min_lon, buf_min_lat, buf_max_lon, buf_max_lat,
                 CASE WHEN centroid_lat BETWEEN 49.0 AND 61.0
                       AND centroid_lon BETWEEN -8.0 AND 2.0 THEN 'ea'
                      WHEN centroid_lat BETWEEN 24.0 AND 50.0
                       AND centroid_lon BETWEEN -125.0 AND -66.0 THEN 'usgs'
                      ELSE NULL END AS flood_source
          FROM read_parquet('{_E}/expected/aois.parquet')
        )
        SELECT a.url, a.feature_index, a.flood_source,
               count(*) AS n_gauges, max(g.level_m) AS max_level_m
        FROM a JOIN read_parquet('{_E}/flood_gauges.parquet') g
          ON g.source = a.flood_source
         AND g.longitude >= a.buf_min_lon AND g.longitude <= a.buf_max_lon
         AND g.latitude >= a.buf_min_lat AND g.latitude <= a.buf_max_lat
        WHERE a.flood_source IS NOT NULL
        GROUP BY a.url, a.feature_index, a.flood_source
    """
    sql["q_display_annotations"] = f"""
        WITH g AS (
          SELECT a.url, a.feature_index, fr.frame_id, fr.naip_variant,
                 a.max_span_m, ({_GSD_SQL})::DOUBLE AS gsd
          FROM read_parquet('{_E}/expected/aois.parquet') a
          JOIN read_parquet('{_E}/frames.parquet') fr
            ON a.has_naip = fr.naip_variant
        )
        SELECT url, feature_index, frame_id, naip_variant,
               gsd AS display_resolution_m,
               round(max_span_m / gsd, 1) AS estimated_display_pixels,
               (max_span_m / gsd) >= 12 AS rgb_display_suitable,
               CASE WHEN (max_span_m / gsd) >= 12 THEN 'rgb' ELSE 'ndvi' END
                 AS preferred_layer
        FROM g
    """

    # — genuine SQL oracles over the pre-registered testdata views —
    sql["q_dedup_exact"] = (
        "SELECT min(doc_id) AS keep_doc_id, count(*) AS n_docs FROM documents GROUP BY text"
    )
    sql["q_ngram_jaccard"] = f"""
        WITH {_SHINGLES_CTE},
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh a JOIN sh b USING (sh)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE i / (sa.sz + sb.sz - i) >= 0.5
    """
    # — expected-parquet oracles from the independent pure-Python xxhash64
    #   pipelines (oracle/textdata.py): DuckDB cannot reproduce Spark's
    #   xxhash64, so a second implementation writes the fingerprints/pairs —
    sql["q_simhash"] = (
        f"SELECT doc_id, simhash FROM read_parquet('{_E}/expected/simhash.parquet')"
    )
    sql["q_simhash_pairs"] = f"""
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM read_parquet('{_E}/expected/simhash.parquet') a
        JOIN read_parquet('{_E}/expected/simhash.parquet') b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """
    # cap=20 > max shingle DF at sf0.01, so the exact oracle applies verbatim
    sql["q_ngram_jaccard_capped"] = sql["q_ngram_jaccard"]
    sql["q_minhash_lsh"] = (
        "SELECT id_a, id_b, jaccard "
        f"FROM read_parquet('{_E}/expected/minhash_pairs.parquet')"
    )
    sql["q_dedup_clusters"] = (
        "SELECT doc_id, cluster_id "
        f"FROM read_parquet('{_E}/expected/dedup_clusters.parquet')"
    )
    sql["q_sample_hash"] = (
        "SELECT doc_id, lang, n_chars "
        f"FROM read_parquet('{_E}/expected/sample_hash.parquet')"
    )
    sql["q_sample_stratified"] = (
        "SELECT doc_id, stratum, sample_rank "
        f"FROM read_parquet('{_E}/expected/sample_stratified.parquet')"
    )
    sql["q_fingerprint"] = (
        "SELECT doc_id, text_hash, min_window_hash "
        f"FROM read_parquet('{_E}/expected/fingerprint.parquet')"
    )
    sql["q_token_stats"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t, text FROM documents),
        w AS (SELECT doc_id, unnest(t) AS word FROM toks),
        bpe AS (SELECT doc_id,
                       sum(CASE WHEN length(word) <= 6 THEN 1
                                ELSE CAST(ceil(length(word) / 6.0) AS BIGINT) END) AS n_bpe_units
                FROM w GROUP BY doc_id)
        SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(bpe.n_bpe_units AS BIGINT) AS n_bpe_units,
               CAST(length(text) AS BIGINT) AS n_chars_measured
        FROM toks JOIN bpe ON toks.doc_id = bpe.doc_id
    """
    sql["q_quality_score"] = f"""
        WITH base AS (
          SELECT doc_id, text, {_TOKS} AS t FROM documents
        ), c AS (
          SELECT doc_id,
                 len(t) AS n_tokens,
                 length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) * 1.0 / len(t) AS mwl,
                 len(list_filter(t, x -> x IN {_STOPWORDS_SQL})) * 1.0 / len(t) AS sr,
                 (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                   / greatest(length(text), 1) AS pr
          FROM base
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               round(mwl, 4) AS mean_word_len,
               round(sr, 4) AS stopword_ratio,
               round(pr, 4) AS punct_ratio,
               round((least(n_tokens / 100.0, 1.0) + least(sr * 5.0, 1.0)
                      + (1.0 - least(pr * 10.0, 1.0))) / 3.0, 4) AS quality_score
        FROM c
    """
    lang_scores = ", ".join(
        f"len(list_filter(t, x -> x IN ({', '.join(repr(m) for m in ms)}))) AS score_{lg}"
        for lg, ms in {
            "en": ["the", "and", "of", "to", "in"],
            "es": ["el", "la", "de", "que", "los"],
            "de": ["der", "die", "und", "das", "ist"],
            "fr": ["le", "la", "les", "des", "est"],
        }.items()
    )
    sql["q_language_id"] = f"""
        WITH base AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
        s AS (SELECT doc_id, lang, {lang_scores} FROM base),
        m AS (SELECT *, greatest(score_en, score_es, score_de, score_fr) AS best FROM s)
        SELECT doc_id, lang AS declared_lang,
               CASE WHEN best = 0 THEN 'und'
                    WHEN score_en = best THEN 'en'
                    WHEN score_es = best THEN 'es'
                    WHEN score_de = best THEN 'de'
                    WHEN score_fr = best THEN 'fr'
                    ELSE 'und' END AS predicted_lang
        FROM m
    """
    sql["q_aoi_csv"] = f"""
        WITH a AS (
          SELECT url, feature_index, name, area_ha, perimeter_km,
                 centroid_lon, centroid_lat, min_lon, min_lat, max_lon, max_lat
          FROM read_parquet('{_E}/expected/aois.parquet')
        ),
        geo AS (
          SELECT url, feature_index, name, area_ha,
                 round(area_ha / 100, 4) AS area_km2, perimeter_km,
                 CASE WHEN perimeter_km > 0 AND area_ha > 0
                      THEN round(4 * pi() * (area_ha / 100) / (perimeter_km * perimeter_km), 3)
                      ELSE 0.0 END AS compactness,
                 round(centroid_lon, 6) AS centroid_lon,
                 round(centroid_lat, 6) AS centroid_lat,
                 round(abs(max_lon - min_lon) * 111.32
                       * cos(radians((min_lat + max_lat) / 2)), 2) AS bbox_width_km,
                 round(abs(max_lat - min_lat) * 111.32, 2) AS bbox_height_km
          FROM a
        ),
        ar AS ({_region_join_cte("a")}),
        w AS (SELECT * FROM read_parquet('{_E}/weather_daily.parquet')
              WHERE date >= DATE '{RUN_DATE_START}' AND date <= DATE '{RUN_DATE_END}'),
        wsum AS (
          SELECT ar.url, ar.feature_index,
                 {_TEMP_MEAN_FOLD} AS temp_mean_c,
                 {_precip_total_fold("temp_c")} AS precip_total_mm
          FROM ar LEFT JOIN w USING (region)
          GROUP BY ar.url, ar.feature_index
        )
        SELECT geo.url, CAST(geo.feature_index AS BIGINT) AS feature_index,
               geo.name, geo.area_ha, geo.area_km2, geo.perimeter_km,
               geo.compactness, geo.centroid_lon, geo.centroid_lat,
               geo.bbox_width_km, geo.bbox_height_km,
               tr.direction, tr.latest_mean, tr.health_class,
               CAST(cs.comparisons AS BIGINT) AS comparisons,
               cs.total_loss_ha, cs.total_gain_ha, cs.trajectory,
               wsum.temp_mean_c, wsum.precip_total_mm
        FROM geo
        LEFT JOIN read_parquet('{_E}/expected/ndvi_trend.parquet') tr
               USING (url, feature_index)
        LEFT JOIN read_parquet('{_E}/expected/change_summary.parquet') cs
               USING (url, feature_index)
        LEFT JOIN wsum USING (url, feature_index)
    """
    sql["q_frame_csv"] = f"""
        WITH bs AS (
          SELECT * FROM read_parquet('{_E}/expected/best_scenes.parquet')
        ),
        fr AS (
          SELECT frame_id, naip_variant, start, "end", collection, is_naip
          FROM read_parquet('{_E}/frames.parquet')
        ),
        ar AS ({_region_join_cte(f"read_parquet('{_E}/expected/aois.parquet')")}),
        wagg AS (
          SELECT bs.url, bs.feature_index, bs.frame_id,
                 {_TEMP_MEAN_FOLD} AS mean_temp_c,
                 {_precip_total_fold("precip_mm")} AS total_precip_mm
          FROM bs
          JOIN fr ON fr.frame_id = bs.frame_id
                 AND fr.naip_variant = bs.naip_variant
          JOIN ar ON ar.url = bs.url AND ar.feature_index = bs.feature_index
          LEFT JOIN read_parquet('{_E}/weather_daily.parquet') w
            ON w.region = ar.region
           AND w.date >= CAST(fr.start AS DATE) AND w.date <= CAST(fr."end" AS DATE)
          GROUP BY bs.url, bs.feature_index, bs.frame_id
        )
        SELECT bs.url, CAST(bs.feature_index AS BIGINT) AS feature_index,
               CAST(bs.frame_id AS BIGINT) AS frame_index,
               concat(upper(substr(bs.season, 1, 1)), substr(bs.season, 2),
                      ' ', CAST(bs.year AS VARCHAR)) AS label,
               CAST(bs.year AS BIGINT) AS year, bs.season,
               fr.start AS start_date, fr."end" AS end_date,
               fr.collection, fr.is_naip,
               bs.scene_id AS ndvi_scene_id,
               CAST(sc.resolution_m AS DOUBLE) AS resolution_m,
               CAST(bs.cloud_cover AS DOUBLE) AS cloud_cover_pct,
               n.ndvi_mean, n.ndvi_min, n.ndvi_max, n.ndvi_std,
               ch.mean_delta AS ndvi_change_from_previous,
               wagg.mean_temp_c, wagg.total_precip_mm
        FROM bs
        JOIN fr ON fr.frame_id = bs.frame_id AND fr.naip_variant = bs.naip_variant
        JOIN read_parquet('{_E}/scenes.parquet') sc ON sc.scene_id = bs.scene_id
        LEFT JOIN read_parquet('{_E}/expected/ndvi_stats.parquet') n
          ON n.url = bs.url AND n.feature_index = bs.feature_index
         AND n.year = bs.year AND n.season = bs.season AND n.scene_id = bs.scene_id
        LEFT JOIN read_parquet('{_E}/expected/season_changes.parquet') ch
          ON ch.url = bs.url AND ch.feature_index = bs.feature_index
         AND ch.season = bs.season AND ch.year_to = bs.year
        LEFT JOIN wagg ON wagg.url = bs.url AND wagg.feature_index = bs.feature_index
                      AND wagg.frame_id = bs.frame_id
    """
    sql["q_geojson"] = f"""
        WITH bs AS (
          SELECT url, feature_index, frame_id, year, season, scene_id
          FROM read_parquet('{_E}/expected/best_scenes.parquet')
        ),
        agg AS (
          SELECT url, feature_index, count(*) AS n_frames, min(frame_id) AS f0
          FROM bs GROUP BY url, feature_index
        ),
        -- frame features exist for EVERY best scene; stats are null when the
        -- NDVI kernel masked the frame out (engine emits the frame anyway)
        first AS (
          SELECT bs.url, bs.feature_index,
                 concat(upper(substr(bs.season, 1, 1)), substr(bs.season, 2),
                        ' ', CAST(bs.year AS VARCHAR)) AS first_label,
                 n.ndvi_mean AS first_ndvi
          FROM bs
          JOIN agg ON bs.url = agg.url AND bs.feature_index = agg.feature_index
                  AND bs.frame_id = agg.f0
          LEFT JOIN read_parquet('{_E}/expected/ndvi_stats.parquet') n
            ON n.url = bs.url AND n.feature_index = bs.feature_index
           AND n.year = bs.year AND n.season = bs.season
           AND n.scene_id = bs.scene_id
        )
        SELECT a.url, CAST(a.feature_index AS BIGINT) AS feature_index,
               CAST(coalesce(agg.n_frames, 0) + 1 AS BIGINT) AS n_features,
               'Point' AS last_geom_type,
               first.first_label, first.first_ndvi,
               CAST(cs.comparisons AS BIGINT) AS comparisons, cs.trajectory,
               gm.geojson_md5
        FROM read_parquet('{_E}/expected/aois.parquet') a
        LEFT JOIN agg USING (url, feature_index)
        LEFT JOIN first USING (url, feature_index)
        LEFT JOIN read_parquet('{_E}/expected/change_summary.parquet') cs
               USING (url, feature_index)
        LEFT JOIN read_parquet('{_E}/expected/geojson_md5.parquet') gm
               USING (url, feature_index)
    """
    sql["q_coord_csv"] = (
        "SELECT source, CAST(feature_index AS BIGINT) AS feature_index, name, "
        "CAST(vertex_count AS BIGINT) AS vertex_count, ring_sum, error "
        f"FROM read_parquet('{_E}/expected/csv_features.parquet')"
    )
    sql["q_coord_text"] = (
        "SELECT source, CAST(feature_index AS BIGINT) AS feature_index, name, "
        "CAST(vertex_count AS BIGINT) AS vertex_count, ring_sum, error "
        f"FROM read_parquet('{_E}/expected/coord_features.parquet')"
    )
    sql["q_page_text"] = (
        f"SELECT url, text_md5 FROM read_parquet('{_E}/expected/page_text.parquet')"
    )
    sql["q_cell_density"] = (
        "WITH a AS (SELECT url, feature_index, centroid_lon, centroid_lat, area_ha "
        f"FROM read_parquet('{_E}/expected/aois.parquet')), "
        "c AS (SELECT CAST(10 AS BIGINT) * CAST(4503599627370496 AS BIGINT) "
        "   + least(greatest(CAST(floor((centroid_lon + 180.0) / 0.3515625) AS BIGINT), 0), 1023) * 67108864 "
        "   + least(greatest(CAST(floor((centroid_lat + 90.0) / 0.3515625) AS BIGINT), 0), 1023) AS cell_id, "
        "   url, feature_index, area_ha FROM a) "
        "SELECT cell_id, CAST(count(*) AS BIGINT) AS n_aois, "
        "round(sum(area_ha ORDER BY url, feature_index), 2) AS total_area_ha "
        "FROM c GROUP BY cell_id"
    )
    sql["q_source_stats"] = """
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               round(avg(length(text)), 2) AS mean_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts,
               round(1.0 - count(DISTINCT text) * 1.0 / count(*), 4) AS dup_rate
        FROM documents GROUP BY source
    """
    # a null or all-zero embedding has no direction and scores no cosine
    # (similarity._vectors drops it)
    has_dir = "list_bool_or(list_transform(embedding, x -> x <> 0))"
    sql["q_embed_near_dup"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                   WHERE {has_dir}),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4
    """
    # the LSH variant verifies candidates with the same exact cosine, so at
    # ≥0.99999 recall its rows equal the brute-force oracle's
    sql["q_embed_near_dup_lsh"] = sql["q_embed_near_dup"]
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    sql["q_ann_topk"] = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
                   FROM embeddings WHERE vec_id IN ({ids}) AND {has_dir}),
        c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
              WHERE {has_dir}),
        s AS (
          SELECT q.query_id, c.neighbor_id,
                 list_dot_product(qe, ce)
                   / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS cos
          FROM q JOIN c ON q.query_id <> c.neighbor_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
        FROM s
        QUALIFY rank <= 10
    """
    # both approximate-ANN queries run at provable-equality operating points
    # (coverage band / n_probe == n_centroids), so the exact-cosine oracle
    # applies verbatim — see _q_ann_lsh/_q_ann_ivf docstrings
    sql["q_ann_lsh"] = sql["q_ann_topk"]
    sql["q_ann_ivf"] = sql["q_ann_topk"]
    sql["q_events_hourly"] = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """
    sql["q_sessionize"] = """
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
               CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS duration_s
        FROM s GROUP BY user_id, session_id
    """
    sql["q_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """
    sql["q_top_customers"] = """
        WITH rev AS (
          SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
          FROM orders GROUP BY o_custkey
        ), top AS (
          SELECT o_custkey, revenue,
                 CAST(row_number() OVER (ORDER BY revenue DESC, o_custkey ASC) AS BIGINT) AS rank
          FROM rev QUALIFY rank <= 20
        )
        SELECT top.o_custkey AS custkey, c.c_name, top.revenue, top.rank
        FROM top JOIN customer c ON top.o_custkey = c.c_custkey
    """
    return sql
