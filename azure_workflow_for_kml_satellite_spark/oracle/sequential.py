"""Sequential oracle: recompute the whole geometry pipeline in one process,
no Spark — plain Python loops + numpy, mirroring how the reference's own
single-process pipeline walks the data (reference: runner.py).

Its outputs are written to ``data/<sf>/expected/*.parquet``; the driver's
DuckDB oracle SQL reads them (for the raster/geometry operators whose math
is not SQL-expressible).

This module imports NO engine kernels: all geometry/raster/metric/KML math
comes from ``oracle/kernels.py``, a from-scratch second implementation of
the same contracts (straight-line numpy, own XML traversal). The gate
therefore checks both the distributed plumbing AND the kernel math — a bug
in an engine kernel no longer passes both sides. Cross-implementation
parity is itself fuzz-tested in tests/test_oracle_independence.py.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from azure_workflow_for_kml_satellite_spark.constants import (
    DEFAULT_AOI_BUFFER_M,
    DEFAULT_AOI_MAX_AREA_HA,
    DEFAULT_CLUSTER_EPS_KM,
    MAX_FEATURES_PER_KML,
    RUN_DATE_END,
    RUN_DATE_START,
)
from azure_workflow_for_kml_satellite_spark.oracle import kernels as K
from azure_workflow_for_kml_satellite_spark.sources.frames import (
    build_frame_rows,
    filter_frames,
)


# ── stage 1: features ───────────────────────────────────────────────────────


def compute_features(pages_path: str | Path) -> list[dict]:
    t = pq.read_table(pages_path, columns=["url", "html"])
    out: list[dict] = []
    for url, html in zip(t["url"].to_pylist(), t["html"].to_pylist()):
        feature_index = 0
        for doc in K.find_kml_payloads(html):
            try:
                data = K.unzip_kmz(doc)
                K.check_kml(data)
                feats = K.parse_kml_features(data, source_file=url)
                if len(feats) > MAX_FEATURES_PER_KML:
                    raise ValueError(
                        f"KML contains {len(feats)} features; maximum is {MAX_FEATURES_PER_KML}"
                    )
            except ValueError as exc:
                out.append({"url": url, "feature_index": None, "error": str(exc)})
                continue
            for f in feats:
                out.append(
                    {
                        "url": url,
                        "feature_index": feature_index,
                        "name": f["name"],
                        "description": f["description"],
                        "exterior_coords": f["exterior_coords"],
                        "interior_coords": f["interior_coords"],
                        "metadata": f["metadata"],
                        "dedup_key": f"{url}:{feature_index}",
                        "vertex_count": len(f["exterior_coords"]),
                        "has_holes": len(f["interior_coords"]) > 0,
                        "error": None,
                    }
                )
                feature_index += 1
    return out


# ── stage 2: aois ───────────────────────────────────────────────────────────


def compute_aois(features: list[dict]) -> list[dict]:
    aois = []
    for f in features:
        if f.get("error") is not None:
            continue
        ext = f["exterior_coords"]
        bbox = K.bbox_of(ext)
        buffered = K.expand_bbox_m(bbox, DEFAULT_AOI_BUFFER_M)
        area_ha, perimeter_km = K.area_and_perimeter(ext)
        cen = K.vertex_mean(ext)
        warning = (
            f"Area {area_ha:.1f} ha exceeds max {DEFAULT_AOI_MAX_AREA_HA:.1f} ha"
            if area_ha > DEFAULT_AOI_MAX_AREA_HA
            else ""
        )
        aois.append(
            {
                **f,
                "bbox": bbox,
                "buffered_bbox": buffered,
                "area_ha": area_ha,
                "perimeter_km": perimeter_km,
                "centroid": cen,
                "area_warning": warning,
                "has_naip": K.inside_conus(ext),
                "max_span_m": K.span_m(ext),
            }
        )
    return aois


# ── stage 3: best scene per (aoi, frame) ────────────────────────────────────


def _scene_arrays(scenes_tbl: pa.Table) -> dict:
    cols = {c: scenes_tbl[c].to_pylist() for c in scenes_tbl.column_names}
    return cols


def compute_best_scenes(
    aois: list[dict],
    scenes_path: str | Path,
    date_start: str = RUN_DATE_START,
    date_end: str = RUN_DATE_END,
) -> list[dict]:
    scenes = _scene_arrays(pq.read_table(scenes_path))
    n = len(scenes["scene_id"])
    s_date = [dt.date().isoformat() for dt in scenes["datetime"]]

    frames_by_variant = {
        v: filter_frames(build_frame_rows(v), date_start, date_end) for v in (False, True)
    }

    # Pre-index candidate scene row ids per frame (collection+window+cloud)
    frame_candidates: dict[tuple[bool, int], np.ndarray] = {}
    frame_bbox_arrays: dict[tuple[bool, int], tuple] = {}
    for v, frames in frames_by_variant.items():
        for fr in frames:
            ids = [
                i
                for i in range(n)
                if scenes["collection"][i] == fr["ndvi_collection"]
                and fr["start"] <= s_date[i] <= fr["end"]
                and scenes["cloud_cover"][i] is not None
                and scenes["cloud_cover"][i] <= fr["max_cloud"]
            ]
            key = (v, fr["frame_id"])
            frame_candidates[key] = np.array(ids, dtype=np.int64)
            frame_bbox_arrays[key] = (
                np.array([scenes["min_lon"][i] for i in ids]),
                np.array([scenes["min_lat"][i] for i in ids]),
                np.array([scenes["max_lon"][i] for i in ids]),
                np.array([scenes["max_lat"][i] for i in ids]),
                np.array([scenes["cloud_cover"][i] for i in ids]),
                np.array([scenes["datetime"][i].isoformat() for i in ids]),
                np.array([scenes["scene_id"][i] for i in ids]),
            )

    best = []
    for a in aois:
        bb = a["buffered_bbox"]
        frames = frames_by_variant[a["has_naip"]]
        for fr in frames:
            key = (a["has_naip"], fr["frame_id"])
            ids = frame_candidates[key]
            if len(ids) == 0:
                continue
            lo_x, lo_y, hi_x, hi_y, cloud, dt_s, sid = frame_bbox_arrays[key]
            hit = (bb[0] <= hi_x) & (lo_x <= bb[2]) & (bb[1] <= hi_y) & (lo_y <= bb[3])
            if not hit.any():
                continue
            idx = np.nonzero(hit)[0]
            order = np.lexsort((sid[idx], dt_s[idx], cloud[idx]))
            j = int(ids[idx[order[0]]])
            best.append(
                {
                    "url": a["url"],
                    "feature_index": a["feature_index"],
                    "frame_id": fr["frame_id"],
                    "naip_variant": a["has_naip"],
                    "year": fr["year"],
                    "season": fr["season"],
                    "ndvi_collection": fr["ndvi_collection"],
                    "scene_id": scenes["scene_id"][j],
                    "cloud_cover": scenes["cloud_cover"][j],
                    "resolution_m": scenes["resolution_m"][j],
                    "s_bbox": [
                        scenes["min_lon"][j],
                        scenes["min_lat"][j],
                        scenes["max_lon"][j],
                        scenes["max_lat"][j],
                    ],
                    "bbox": a["bbox"],
                }
            )
    return best


# ── stage 4: ndvi stats ─────────────────────────────────────────────────────


def compute_ndvi(best: list[dict]) -> list[dict]:
    out = []
    for b in best:
        bands = K.fetch_window_bands(
            b["scene_id"], b["s_bbox"], b["resolution_m"], b["bbox"], b["ndvi_collection"]
        )
        row = {**b, "ndvi": None}
        if bands is not None:
            if b["ndvi_collection"] == "landsat-c2-l2":
                ndvi, mask, masked = K.landsat_ndvi(bands["red"], bands["nir"], bands.get("qa"))
            else:
                ndvi, mask, masked = K.s2_ndvi(bands["red"], bands["nir"], bands.get("scl"))
            stats = K.ndvi_stats(ndvi, mask)
            if stats is not None:
                row["ndvi"] = {**stats, "masked_pixels": masked}
                row["_masked_raster"] = np.where(mask, ndvi, np.nan).astype(np.float32)
        out.append(row)
    return out


def compute_ndvi_utm(best: list[dict], utm_scenes_path: str | Path) -> list[dict]:
    """Cross-CRS NDVI over the UTM-scene dimension (contract:
    operators/ndvi.compute_ndvi_utm_row — G4 bbox transform, metric window,
    S2 kernel, R5 warp back to the geographic AOI bbox). Summer sentinel
    frames only (the gated slice)."""
    ut = pq.read_table(utm_scenes_path)
    by_id: dict[str, tuple] = {}
    for i, sid in enumerate(ut["scene_id"].to_pylist()):
        by_id[sid] = (
            ut["epsg"][i].as_py(),
            [
                ut["u_min_e"][i].as_py(),
                ut["u_min_n"][i].as_py(),
                ut["u_max_e"][i].as_py(),
                ut["u_max_n"][i].as_py(),
            ],
            ut["u_res_m"][i].as_py(),
        )
    out = []
    for b in best:
        if b["season"] != "summer" or b["ndvi_collection"] != "sentinel-2-l2a":
            continue
        u = by_id.get(b["scene_id"])
        if u is None:
            continue
        epsg, ubbox, res = u
        zone = int(epsg[-2:])
        north = epsg.startswith("EPSG:326")
        row = {
            "url": b["url"],
            "feature_index": b["feature_index"],
            "year": b["year"],
            "scene_id": b["scene_id"],
            "epsg": epsg,
            "win_row0": None, "win_row1": None, "win_col0": None, "win_col1": None,
            "ndvi_mean": None, "ndvi_median": None,
            "valid_pixels": None, "total_pixels": None, "masked_pixels": None,
            "reproj_valid_pixels": None, "reproj_mean": None,
        }
        read_m = list(K.tm_bbox_to_utm(b["bbox"], zone, north))
        win = K.clamp_window_m(ubbox, res, read_m)
        if win is not None:
            row.update(
                {"win_row0": win[0], "win_row1": win[1],
                 "win_col0": win[2], "win_col1": win[3]}
            )
            bands = K.fetch_window_bands_utm(b["scene_id"], ubbox, res, read_m)
            ndvi, mask, masked = K.s2_ndvi(bands["red"], bands["nir"], bands.get("scl"))
            st = K.ndvi_stats(ndvi, mask)
            if st is not None:
                row.update(
                    {
                        "ndvi_mean": st["mean"],
                        "ndvi_median": st["median"],
                        "valid_pixels": st["valid_pixels"],
                        "total_pixels": st["total_pixels"],
                        "masked_pixels": masked,
                    }
                )
                win_m = [
                    ubbox[0] + win[2] * res,
                    ubbox[3] - win[1] * res,
                    ubbox[0] + win[3] * res,
                    ubbox[3] - win[0] * res,
                ]
                masked_r = np.where(mask, ndvi, np.nan).astype(np.float32)
                warped = K.warp_utm_to_geographic(
                    masked_r, win_m, zone, north, b["bbox"], (32, 32)
                )
                finite = [float(v) for v in warped.ravel() if not math.isnan(v)]
                row["reproj_valid_pixels"] = len(finite)
                if finite:
                    row["reproj_mean"] = round(math.fsum(finite) / len(finite), 4)
        out.append(row)
    return out


# ── stage 5: change detection ───────────────────────────────────────────────


def compute_changes(ndvi_rows: list[dict]) -> list[dict]:
    groups: dict[tuple, list[dict]] = {}
    for r in ndvi_rows:
        if r["ndvi"] is None:
            continue
        groups.setdefault((r["url"], r["feature_index"], r["season"]), []).append(r)
    changes = []
    for (url, fi, season), rows in groups.items():
        rows.sort(key=lambda r: r["year"])
        for j in range(1, len(rows)):
            a, b = rows[j - 1], rows[j]
            pixel_area_ha = abs(a["resolution_m"] * a["resolution_m"]) / 10_000
            st = K.delta_stats(a["_masked_raster"], b["_masked_raster"], pixel_area_ha)
            if st is None:
                continue
            changes.append(
                {
                    "url": url,
                    "feature_index": fi,
                    "season": season,
                    "year_from": a["year"],
                    "year_to": b["year"],
                    "label": f"{season.capitalize()} {a['year']} → {b['year']}",
                    **st,
                }
            )
    return changes


# ── writers ─────────────────────────────────────────────────────────────────


def _write(out_dir: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")


def build_expected(sf_dir: str | Path) -> Path:
    sf_dir = Path(sf_dir)
    out_dir = sf_dir / "expected"
    out_dir.mkdir(parents=True, exist_ok=True)

    # per-url visible-text bytes (north-rule invariant): md5 of the
    # INDEPENDENT scanner extraction (kernels.visible_text), compared by the
    # driver against the engine's regex-pipeline re-extraction
    import hashlib

    pages_t = pq.read_table(sf_dir / "pages.parquet", columns=["url", "html"])
    _write(
        out_dir,
        "page_text",
        {
            "url": pages_t["url"].to_pylist(),
            "text_md5": [
                hashlib.md5(K.visible_text(h).encode("utf-8")).hexdigest()
                for h in pages_t["html"].to_pylist()
            ],
        },
    )

    # pasted-coordinate requests (S5): independent tokenizer + circle math
    creq = pq.read_table(sf_dir / "coord_requests.parquet")
    cfeats: list[dict] = []
    for src, text in zip(creq["source"].to_pylist(), creq["coords_text"].to_pylist()):
        cfeats.extend(K.parse_coordinate_request(src, text))
    _write(
        out_dir,
        "coord_features",
        {
            "source": [f["source"] for f in cfeats],
            "feature_index": [f["feature_index"] for f in cfeats],
            "name": [f["name"] for f in cfeats],
            "vertex_count": [
                None if f["exterior"] is None else len(f["exterior"]) // 2
                for f in cfeats
            ],
            # left-to-right fold to mirror the Spark-side F.aggregate order
            "ring_sum": [
                None if f["exterior"] is None else round(sum(f["exterior"]), 6)
                for f in cfeats
            ],
            "error": [f["error"] for f in cfeats],
        },
    )

    # CSV points (S6): independent fuzzy-column matcher + circle math
    csvt = pq.read_table(sf_dir / "csv_points.parquet")
    csv_feats = K.parse_csv_points(csvt.schema.names, csvt.to_pylist())
    _write(
        out_dir,
        "csv_features",
        {
            "source": [f["source"] for f in csv_feats],
            "feature_index": [f["feature_index"] for f in csv_feats],
            "name": [f["name"] for f in csv_feats],
            "vertex_count": [
                None if f["exterior"] is None else len(f["exterior"]) // 2
                for f in csv_feats
            ],
            "ring_sum": [
                None if f["exterior"] is None else round(sum(f["exterior"]), 6)
                for f in csv_feats
            ],
            "error": [f["error"] for f in csv_feats],
        },
    )

    features = compute_features(sf_dir / "pages.parquet")
    ok = [f for f in features if f.get("error") is None]
    _write(
        out_dir,
        "features",
        {
            "url": [f["url"] for f in ok],
            "feature_index": [f["feature_index"] for f in ok],
            "name": [f["name"] for f in ok],
            "dedup_key": [f["dedup_key"] for f in ok],
            "vertex_count": [f["vertex_count"] for f in ok],
            "has_holes": [f["has_holes"] for f in ok],
        },
    )
    bad = [f for f in features if f.get("error") is not None]
    _write(out_dir, "quarantine", {"url": [f["url"] for f in bad], "error": [f["error"] for f in bad]})

    aois = compute_aois(features)
    _write(
        out_dir,
        "aois",
        {
            "url": [a["url"] for a in aois],
            "feature_index": [a["feature_index"] for a in aois],
            "name": [a["name"] for a in aois],
            "min_lon": [a["bbox"][0] for a in aois],
            "min_lat": [a["bbox"][1] for a in aois],
            "max_lon": [a["bbox"][2] for a in aois],
            "max_lat": [a["bbox"][3] for a in aois],
            "buf_min_lon": [a["buffered_bbox"][0] for a in aois],
            "buf_min_lat": [a["buffered_bbox"][1] for a in aois],
            "buf_max_lon": [a["buffered_bbox"][2] for a in aois],
            "buf_max_lat": [a["buffered_bbox"][3] for a in aois],
            "area_ha": [a["area_ha"] for a in aois],
            "perimeter_km": [a["perimeter_km"] for a in aois],
            "centroid_lon": [a["centroid"][0] for a in aois],
            "centroid_lat": [a["centroid"][1] for a in aois],
            "area_warning": [a["area_warning"] for a in aois],
            "has_naip": [a["has_naip"] for a in aois],
            "max_span_m": [a["max_span_m"] for a in aois],
        },
    )

    best = compute_best_scenes(aois, sf_dir / "scenes.parquet")
    _write(
        out_dir,
        "best_scenes",
        {
            "url": [b["url"] for b in best],
            "feature_index": [b["feature_index"] for b in best],
            "frame_id": [b["frame_id"] for b in best],
            "naip_variant": [b["naip_variant"] for b in best],
            "year": [b["year"] for b in best],
            "season": [b["season"] for b in best],
            "scene_id": [b["scene_id"] for b in best],
            "cloud_cover": [b["cloud_cover"] for b in best],
        },
    )

    ndvi_rows = compute_ndvi(best)
    with_stats = [r for r in ndvi_rows if r["ndvi"] is not None]
    _write(
        out_dir,
        "ndvi_stats",
        {
            "url": [r["url"] for r in with_stats],
            "feature_index": [r["feature_index"] for r in with_stats],
            "year": [r["year"] for r in with_stats],
            "season": [r["season"] for r in with_stats],
            "scene_id": [r["scene_id"] for r in with_stats],
            "ndvi_mean": [r["ndvi"]["mean"] for r in with_stats],
            "ndvi_min": [r["ndvi"]["min"] for r in with_stats],
            "ndvi_max": [r["ndvi"]["max"] for r in with_stats],
            "ndvi_std": [r["ndvi"]["std"] for r in with_stats],
            "ndvi_median": [r["ndvi"]["median"] for r in with_stats],
            "valid_pixels": [r["ndvi"]["valid_pixels"] for r in with_stats],
            "total_pixels": [r["ndvi"]["total_pixels"] for r in with_stats],
            "masked_pixels": [r["ndvi"]["masked_pixels"] for r in with_stats],
        },
    )

    utm_rows = compute_ndvi_utm(best, sf_dir / "utm_scenes.parquet")
    pq.write_table(
        pa.table(
            {
                "url": pa.array([r["url"] for r in utm_rows], pa.string()),
                "feature_index": pa.array(
                    [r["feature_index"] for r in utm_rows], pa.int64()
                ),
                "year": pa.array([r["year"] for r in utm_rows], pa.int64()),
                "scene_id": pa.array([r["scene_id"] for r in utm_rows], pa.string()),
                "epsg": pa.array([r["epsg"] for r in utm_rows], pa.string()),
                "win_row0": pa.array([r["win_row0"] for r in utm_rows], pa.int64()),
                "win_row1": pa.array([r["win_row1"] for r in utm_rows], pa.int64()),
                "win_col0": pa.array([r["win_col0"] for r in utm_rows], pa.int64()),
                "win_col1": pa.array([r["win_col1"] for r in utm_rows], pa.int64()),
                "ndvi_mean": pa.array([r["ndvi_mean"] for r in utm_rows], pa.float64()),
                "ndvi_median": pa.array(
                    [r["ndvi_median"] for r in utm_rows], pa.float64()
                ),
                "valid_pixels": pa.array(
                    [r["valid_pixels"] for r in utm_rows], pa.int64()
                ),
                "total_pixels": pa.array(
                    [r["total_pixels"] for r in utm_rows], pa.int64()
                ),
                "masked_pixels": pa.array(
                    [r["masked_pixels"] for r in utm_rows], pa.int64()
                ),
                "reproj_valid_pixels": pa.array(
                    [r["reproj_valid_pixels"] for r in utm_rows], pa.int64()
                ),
                "reproj_mean": pa.array(
                    [r["reproj_mean"] for r in utm_rows], pa.float64()
                ),
            }
        ),
        out_dir / "ndvi_utm.parquet",
    )

    changes = compute_changes(ndvi_rows)
    _write(
        out_dir,
        "season_changes",
        {
            "url": [c["url"] for c in changes],
            "feature_index": [c["feature_index"] for c in changes],
            "season": [c["season"] for c in changes],
            "year_from": [c["year_from"] for c in changes],
            "year_to": [c["year_to"] for c in changes],
            "label": [c["label"] for c in changes],
            "mean_delta": [c["mean_delta"] for c in changes],
            "median_delta": [c["median_delta"] for c in changes],
            "std_delta": [c["std_delta"] for c in changes],
            "min_delta": [c["min_delta"] for c in changes],
            "max_delta": [c["max_delta"] for c in changes],
            "loss_ha": [c["loss_ha"] for c in changes],
            "gain_ha": [c["gain_ha"] for c in changes],
            "stable_ha": [c["stable_ha"] for c in changes],
            "total_ha": [c["total_ha"] for c in changes],
            "loss_pct": [c["loss_pct"] for c in changes],
            "gain_pct": [c["gain_pct"] for c in changes],
            "valid_change_pixels": [c["valid_pixels"] for c in changes],
        },
    )

    # change summary per aoi (A3)
    by_aoi: dict[tuple, list[dict]] = {}
    for c in changes:
        by_aoi.setdefault((c["url"], c["feature_index"]), []).append(c)
    summ = []
    for (url, fi), cs in by_aoi.items():
        # canonical order: seasons sorted, years ascending (matches the
        # reference's sorted(season_groups) iteration and the Spark operator)
        cs.sort(key=lambda c: (c["season"], c["year_from"], c["year_to"]))
        s = K.rollup_changes(
            [c["mean_delta"] for c in cs], [c["loss_ha"] for c in cs], [c["gain_ha"] for c in cs]
        )
        summ.append({"url": url, "feature_index": fi, **s})
    _write(
        out_dir,
        "change_summary",
        {
            "url": [s["url"] for s in summ],
            "feature_index": [s["feature_index"] for s in summ],
            "comparisons": [s["comparisons"] for s in summ],
            "total_loss_ha": [s["total_loss_ha"] for s in summ],
            "total_gain_ha": [s["total_gain_ha"] for s in summ],
            "avg_mean_delta": [s["avg_mean_delta"] for s in summ],
            "trajectory": [s["trajectory"] for s in summ],
        },
    )

    # ndvi trend per aoi (A7)
    series: dict[tuple, list[tuple[int, float | None]]] = {}
    for r in ndvi_rows:
        key = (r["url"], r["feature_index"])
        series.setdefault(key, []).append(
            (r["frame_id"], r["ndvi"]["mean"] if r["ndvi"] else None)
        )
    trends = []
    for (url, fi), s in series.items():
        s.sort()
        t = K.trend_of(s)
        trends.append({"url": url, "feature_index": fi, **t})
    _write(
        out_dir,
        "ndvi_trend",
        {
            "url": [t["url"] for t in trends],
            "feature_index": [t["feature_index"] for t in trends],
            "direction": [t["direction"] for t in trends],
            "observations": [t["observations"] for t in trends],
            "slope_per_frame": [t["slope_per_frame"] for t in trends],
            "earliest_mean": [t["earliest_mean"] for t in trends],
            "latest_mean": [t["latest_mean"] for t in trends],
            "overall_change": [t["overall_change"] for t in trends],
            "overall_change_pct": [t["overall_change_pct"] for t in trends],
            "max_consecutive_drop": [t["max_consecutive_drop"] for t in trends],
            "max_drop_frame_id": [t["max_drop_frame_id"] for t in trends],
            "coefficient_of_variation": [t["coefficient_of_variation"] for t in trends],
            "mean_ndvi": [t["mean_ndvi"] for t in trends],
            "std_ndvi": [t["std_ndvi"] for t in trends],
            "health_class": [t["health_class"] for t in trends],
        },
    )

    # portfolio rollup (A8) — correctly-rounded EXACT sums (math.fsum), the
    # same semantics as the operator's two-level Shewchuk-expansion fold:
    # exact summation is order-independent, so the single-row result is
    # reproducible under any partitioning on the engine side and any
    # iteration order here (re-derived, not imported).
    import math as _math

    t_by = {(t["url"], t["feature_index"]): t for t in trends}
    s_by = {(s["url"], s["feature_index"]): s for s in summ}
    v_area: list[float] = []
    v_per: list[float] = []
    v_wnum: list[float] = []
    v_wden: list[float] = []
    v_loss: list[float] = []
    v_gain: list[float] = []
    v_net: list[float] = []
    for a in aois:
        key = (a["url"], a["feature_index"])
        v_area.append(a["area_ha"])
        v_per.append(a["perimeter_km"])
        t = t_by.get(key)
        lm = t["latest_mean"] if t else None
        if lm is not None:
            v_wnum.append(lm * a["area_ha"])
            v_wden.append(a["area_ha"])
        s = s_by.get(key)
        tl = s["total_loss_ha"] if s and s["total_loss_ha"] is not None else 0.0
        tg = s["total_gain_ha"] if s and s["total_gain_ha"] is not None else 0.0
        v_loss.append(tl)
        v_gain.append(tg)
        v_net.append(tg - tl)
    p_wden = _math.fsum(v_wden)
    _write(
        out_dir,
        "portfolio",
        {
            "aoi_count": [len(v_area)],
            "total_area_ha": [round(_math.fsum(v_area), 4)],
            "total_perimeter_km": [round(_math.fsum(v_per), 4)],
            "weighted_mean_ndvi": [
                round(_math.fsum(v_wnum) / p_wden, 4) if p_wden > 0 else None
            ],
            "total_loss_ha": [round(_math.fsum(v_loss), 2)],
            "total_gain_ha": [round(_math.fsum(v_gain), 2)],
            "net_change_ha": [round(_math.fsum(v_net), 2)],
        },
    )

    # clustering (J9) — union-find over vectorized haversine pairs
    keys = [a["dedup_key"] for a in aois]
    lons = np.array([a["centroid"][0] for a in aois])
    lats = np.array([a["centroid"][1] for a in aois])
    nn = len(keys)
    parent = list(range(nn))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    rl = np.radians(lats)
    for i in range(nn):
        dlat = np.radians(lats[i + 1 :] - lats[i])
        dlon = np.radians(lons[i + 1 :] - lons[i])
        a_ = np.sin(dlat / 2) ** 2 + np.cos(rl[i]) * np.cos(rl[i + 1 :]) * np.sin(dlon / 2) ** 2
        d = 6371.0 * 2 * np.arctan2(np.sqrt(a_), np.sqrt(1 - a_))
        for j in np.nonzero(d <= DEFAULT_CLUSTER_EPS_KM)[0]:
            ra, rb = find(i), find(int(j) + i + 1)
            if ra != rb:
                parent[ra] = rb
    roots = [find(i) for i in range(nn)]
    # canonical label: min dedup_key in component
    comp_min: dict[int, str] = {}
    for i, r in enumerate(roots):
        if r not in comp_min or keys[i] < comp_min[r]:
            comp_min[r] = keys[i]
    _write(
        out_dir,
        "clusters",
        {
            "url": [a["url"] for a in aois],
            "feature_index": [a["feature_index"] for a in aois],
            "cluster_key": [comp_min[roots[i]] for i in range(nn)],
        },
    )

    # display-scene selection with NAIP→S2 fallback ladder (runner.py:228-294)
    scenes_d = _scene_arrays(pq.read_table(sf_dir / "scenes.parquet"))
    n_d = len(scenes_d["scene_id"])
    d_date = [dt.date().isoformat() for dt in scenes_d["datetime"]]
    frames_by_v = {
        v: filter_frames(build_frame_rows(v), RUN_DATE_START, RUN_DATE_END)
        for v in (False, True)
    }
    _GSD = {"naip": 0.6, "sentinel-2-l2a": 10.0, "landsat-c2-l2": 30.0}

    def _gsd(fr):
        if fr["collection"] == "naip" and fr["year"] <= 2014:
            return 1.0
        return _GSD.get(fr["collection"], 10.0)

    disp_cands: dict[tuple, list[tuple]] = {}
    for v, frs in frames_by_v.items():
        for fr in frs:
            rows_c = []
            for i in range(n_d):
                in_window = fr["start"] <= d_date[i] <= fr["end"]
                if not in_window:
                    continue
                coll = scenes_d["collection"][i]
                cloud = scenes_d["cloud_cover"][i]
                epoch = scenes_d["datetime"][i].timestamp()
                if coll == fr["collection"] and (
                    coll == "naip" or (cloud is not None and cloud <= 20.0)
                ):
                    rank = -epoch if coll == "naip" else cloud
                    rows_c.append((0, rank, scenes_d["datetime"][i], scenes_d["scene_id"][i], i, coll))
                if fr["is_naip"] and coll == "sentinel-2-l2a" and cloud is not None and cloud <= 20.0:
                    rows_c.append((1, cloud, scenes_d["datetime"][i], scenes_d["scene_id"][i], i, coll))
            disp_cands[(v, fr["frame_id"])] = rows_c
    disp_rows = []
    for a in aois:
        bb = a["buffered_bbox"]
        for fr in frames_by_v[a["has_naip"]]:
            if K.span_m(a["exterior_coords"]) / _gsd(fr) < 12:
                continue
            hits = []
            for prio, rank, dt, sid, i, coll in disp_cands[(a["has_naip"], fr["frame_id"])]:
                if (
                    bb[0] <= scenes_d["max_lon"][i]
                    and scenes_d["min_lon"][i] <= bb[2]
                    and bb[1] <= scenes_d["max_lat"][i]
                    and scenes_d["min_lat"][i] <= bb[3]
                ):
                    hits.append((prio, rank, dt, sid, coll))
            if not hits:
                continue
            prio, rank, dt, sid, coll = min(hits)
            disp_rows.append(
                {
                    "url": a["url"],
                    "feature_index": a["feature_index"],
                    "frame_id": fr["frame_id"],
                    "naip_variant": a["has_naip"],
                    "display_collection": coll,
                    "scene_id": sid,
                    "fallback_used": prio == 1,
                }
            )
    _write(out_dir, "display_scenes", {k: [r[k] for r in disp_rows] for k in
        ("url", "feature_index", "frame_id", "naip_variant", "display_collection",
         "scene_id", "fallback_used")})

    # Landsat historical baseline (A12; reference runner.py:174-206)
    scenes_t = _scene_arrays(pq.read_table(sf_dir / "scenes.parquet"))
    n_sc = len(scenes_t["scene_id"])
    s_date2 = [dt.date().isoformat() for dt in scenes_t["datetime"]]
    from azure_workflow_for_kml_satellite_spark.operators.eudr import (
        LANDSAT_BASELINE_WINDOWS,
    )

    bl_rows = []
    win_cands = []
    for wid, (ws, we) in enumerate(LANDSAT_BASELINE_WINDOWS):
        ids = [
            i
            for i in range(n_sc)
            if scenes_t["collection"][i] == "landsat-c2-l2"
            and scenes_t["cloud_cover"][i] is not None
            and scenes_t["cloud_cover"][i] <= 30.0
            and ws <= s_date2[i] <= we
        ]
        win_cands.append(
            (
                wid,
                np.array([scenes_t["min_lon"][i] for i in ids]),
                np.array([scenes_t["min_lat"][i] for i in ids]),
                np.array([scenes_t["max_lon"][i] for i in ids]),
                np.array([scenes_t["max_lat"][i] for i in ids]),
                np.array([scenes_t["cloud_cover"][i] for i in ids]),
                np.array([scenes_t["datetime"][i].isoformat() for i in ids]),
                np.array([scenes_t["scene_id"][i] for i in ids]),
                np.array(ids, dtype=np.int64),
            )
        )
    for a in aois:
        bb = a["bbox"]  # plain bbox (reference passes flat_bbox)
        for wid, lo_x, lo_y, hi_x, hi_y, cloud, dt_s, sid, ids in win_cands:
            if len(ids) == 0:
                continue
            hit = (bb[0] <= hi_x) & (lo_x <= bb[2]) & (bb[1] <= hi_y) & (lo_y <= bb[3])
            if not hit.any():
                continue
            idx = np.nonzero(hit)[0]
            order = np.lexsort((sid[idx], dt_s[idx], cloud[idx]))
            j = int(ids[idx[order[0]]])
            bands = K.fetch_window_bands(
                scenes_t["scene_id"][j],
                [
                    scenes_t["min_lon"][j],
                    scenes_t["min_lat"][j],
                    scenes_t["max_lon"][j],
                    scenes_t["max_lat"][j],
                ],
                scenes_t["resolution_m"][j],
                bb,
                "landsat-c2-l2",
            )
            mean = None
            vp = None
            if bands is not None:
                ndvi, mask, _m = K.landsat_ndvi(bands["red"], bands["nir"], bands.get("qa"))
                st = K.ndvi_stats(ndvi, mask)
                if st is not None:
                    mean, vp = st["mean"], st["valid_pixels"]
            bl_rows.append(
                {
                    "url": a["url"],
                    "feature_index": a["feature_index"],
                    "window_id": wid,
                    "scene_id": scenes_t["scene_id"][j],
                    "cloud_cover": scenes_t["cloud_cover"][j],
                    "ndvi_mean": mean,
                    "valid_pixels": vp,
                }
            )
    _write(out_dir, "landsat_baseline", {k: [r[k] for r in bl_rows] for k in
        ("url", "feature_index", "window_id", "scene_id", "cloud_cover", "ndvi_mean", "valid_pixels")})

    # wdpa overlap hits (J8) — needed by the determination below
    pas = pq.read_table(sf_dir / "protected_areas.parquet").to_pylist()
    hits = []
    for a in aois:
        lon, lat = a["centroid"]
        for p in pas:
            if not (p["min_lon"] <= lon <= p["max_lon"] and p["min_lat"] <= lat <= p["max_lat"]):
                continue
            ring = [[c[0], c[1]] for c in p["exterior"]]
            if K.pip_even_odd(lon, lat, ring):
                hits.append(
                    {
                        "url": a["url"],
                        "feature_index": a["feature_index"],
                        "wdpa_id": p["wdpa_id"],
                        "pa_name": p["name"],
                        "designation": p["designation"],
                        "iucn_category": p["iucn_category"],
                    }
                )

    # ── EUDR layers + determination ────────────────────────────────────────
    from azure_workflow_for_kml_satellite_spark.operators import eudr as E

    hist_rows, trend_rows = [], []
    for a in aois:
        bbox = a["bbox"]
        classes = K.fetch_class_window("worldcover", bbox, E.WORLDCOVER_RES_M)
        if classes is not None:
            for rank, h in enumerate(K.class_counts(classes), start=1):
                hist_rows.append(
                    {
                        "url": a["url"],
                        "feature_index": a["feature_index"],
                        "layer": "worldcover",
                        "class_code": h["class_code"],
                        "pixel_count": h["pixel_count"],
                        "area_pct": h["area_pct"],
                        "rank": rank,
                    }
                )
        pcts = []
        for yr in E.LULC_YEARS:
            cls = K.fetch_class_window(f"io-lulc-{yr}", bbox, E.LULC_RES_M)
            if cls is None:
                continue
            hh = K.class_counts(cls)
            total = sum(x["pixel_count"] for x in hh)
            tree = sum(x["pixel_count"] for x in hh if x["class_code"] == E.TREE_CLASS)
            pcts.append(round(100.0 * tree / total, 2) if total else 0.0)
        if pcts:
            delta = pcts[-1] - pcts[0]
            trend_rows.append(
                {
                    "url": a["url"],
                    "feature_index": a["feature_index"],
                    "tree_pct_first": pcts[0],
                    "tree_pct_last": pcts[-1],
                    "tree_pct_min": min(pcts),
                    "tree_pct_max": max(pcts),
                    "change_detected": (max(pcts) - min(pcts)) > 10,
                    "tree_cover_trend": (
                        "declining" if delta < -5 else "increasing" if delta > 5 else "stable"
                    ),
                }
            )
    _write(out_dir, "worldcover_hist", {k: [r[k] for r in hist_rows] for k in
        ("url", "feature_index", "layer", "class_code", "pixel_count", "area_pct", "rank")})
    _write(out_dir, "lulc_trend", {k: [r[k] for r in trend_rows] for k in
        ("url", "feature_index", "tree_pct_first", "tree_pct_last", "tree_pct_min",
         "tree_pct_max", "change_detected", "tree_cover_trend")})

    # determination (reference: determination.py:138-195)
    summ_by = {(s["url"], s["feature_index"]): s for s in summ}
    trend_by = {(t["url"], t["feature_index"]): t for t in trend_rows}
    det_rows = []
    for a in aois:
        key = (a["url"], a["feature_index"])
        s = summ_by.get(key)
        flags: list[str] = []
        cs = sorted(
            by_aoi.get(key, []), key=lambda c: (c["season"], c["year_from"], c["year_to"])
        )
        for c in cs:
            if c["loss_pct"] >= E.LOSS_PCT_THRESHOLD and c["loss_ha"] >= E.LOSS_HA_THRESHOLD:
                flags.append(
                    f"Vegetation loss {c['loss_pct']:.1f}% ({c['loss_ha']:.1f} ha) in {c['label']}"
                )
        if s and s["trajectory"] == "Declining":
            flags.append("Overall NDVI trajectory is declining")
        if s and s["avg_mean_delta"] is not None and s["avg_mean_delta"] < E.NDVI_DECLINE_THRESHOLD:
            flags.append(
                f"Mean NDVI delta {s['avg_mean_delta']:+.4f} below threshold "
                f"({E.NDVI_DECLINE_THRESHOLD:+.4f})"
            )
        if any(h["url"] == a["url"] and h["feature_index"] == a["feature_index"] for h in hits):
            flags.append("Overlaps a WDPA protected area")
        t = trend_by.get(key)
        if t and t["change_detected"]:
            flags.append("IO LULC detected significant land-cover change")
        if t and t["tree_cover_trend"] == "declining":
            flags.append("IO LULC tree cover trend is declining")
        comparisons = s["comparisons"] if s else 0
        has_data = comparisons > 0
        det_rows.append(
            {
                "url": a["url"],
                "feature_index": a["feature_index"],
                "deforestation_free": has_data and len(flags) == 0,
                "confidence": (
                    "low" if not has_data else ("medium" if len(flags) == 1 else "high")
                ),
                "flags": "|".join(flags),
            }
        )
    _write(out_dir, "determination", {k: [r[k] for r in det_rows] for k in
        ("url", "feature_index", "deforestation_free", "confidence", "flags")})

    # EUDR report text (S20 content; reference: export.py:512-1533 sections).
    # Independent re-assembly of the per-document report content from the
    # sequential tables above — the engine's report_text column must hash-
    # match this; the PDF byte stream is a rendering of the same content and
    # is structure-tested, not oracled.
    ndvi_trend_by = {(t["url"], t["feature_index"]): t for t in trends}
    det_by = {(d["url"], d["feature_index"]): d for d in det_rows}
    by_url: dict[str, list[dict]] = {}
    for a in aois:
        by_url.setdefault(a["url"], []).append(a)
    from azure_workflow_for_kml_satellite_spark.oracle import pdfdoc

    rep_urls: list[str] = []
    rep_counts: list[int] = []
    rep_texts: list[str] = []
    rep_pdf_md5: list[str] = []
    for url in by_url:
        docs_parcels = sorted(by_url[url], key=lambda a: a["feature_index"])
        free = flagged = 0
        trend_counts: dict[str, int] = {}
        table: list[str] = [
            "parcel | area (ha) | health | trajectory | confidence"
        ]
        table_cells: list[list[str]] = []
        evidence: list[str] = ["Per-Parcel Evidence"]
        parcel_blocks: list[tuple] = []
        for a in docs_parcels:
            key = (a["url"], a["feature_index"])
            t = ndvi_trend_by.get(key)
            s = summ_by.get(key)
            d = det_by[key]
            if d["deforestation_free"]:
                free += 1
            else:
                flagged += 1
            direction = (t["direction"] if t else None) or "unknown"
            trend_counts[direction] = trend_counts.get(direction, 0) + 1
            label = a["name"] if a["name"] else f"feature {a['feature_index']}"
            cells = [
                str(label),
                ("%.1f" % a["area_ha"]) if a["area_ha"] is not None else "-",
                str((t["health_class"] if t else None) or "-"),
                str((s["trajectory"] if s else None) or "-"),
                str(d["confidence"] or "-"),
            ]
            table.append(" | ".join(cells))
            table_cells.append(cells)
            evidence.append(str(label))
            word = "DEFORESTATION-FREE" if d["deforestation_free"] else "FINDINGS PRESENT"
            verdict_line = f"Determination: {word} (confidence: {d['confidence']})"
            evidence.append(verdict_line)
            flag_lines = []
            for fl in (d["flags"] or "").split("|"):
                if fl:
                    evidence.append(f"- {fl}")
                    flag_lines.append(f"- {fl}")
            parcel_blocks.append((str(label), verdict_line, flag_lines))
        head = [
            "EUDR Due-Diligence Report",
            f"Report ID: {url}",
            f"Parcels analysed: {len(docs_parcels)}",
            "EUDR Compliance Summary",
            "EUDR cutoff date: 31 December 2020",
            f"Deforestation-free parcels: {free}",
            f"Parcels with findings: {flagged}",
            "Vegetation Analysis",
        ]
        trend_lines = [
            f"NDVI trend '{direction}': {trend_counts[direction]} parcel(s)"
            for direction in sorted(trend_counts)
        ]
        head.extend(trend_lines)
        rep_urls.append(url)
        rep_counts.append(len(docs_parcels))
        rep_texts.append("\n".join(head + table + evidence))
        pdf_bytes = pdfdoc.render_report(
            head[:8],
            trend_lines,
            ["parcel", "area (ha)", "health", "trajectory", "confidence"],
            table_cells,
            parcel_blocks,
        )
        rep_pdf_md5.append(hashlib.md5(pdf_bytes).hexdigest())
    _write(
        out_dir,
        "eudr_report",
        {
            "url": rep_urls,
            "n_parcels": rep_counts,
            "report_text": rep_texts,
            "pdf_md5": rep_pdf_md5,
        },
    )

    # S17 byte-identity: the full FeatureCollection string re-assembled
    # independently (engine: operators/exports.geojson_per_aoi via JVM
    # to_json with fixed-scale decimal numerics; here: hand-built compact
    # JSON with HALF_UP fixed-point rendering of the same values). A
    # formatting or ordering drift on either side now fails the md5 gate.
    import json as _json
    from decimal import ROUND_HALF_UP, Decimal

    def _fixed(x, scale):
        d = Decimal(float(x))
        if d == 0:
            d = Decimal(0)
        return format(d.quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP), "f")

    frame_attr = {
        (v, fr["frame_id"]): fr
        for v in (False, True)
        for fr in filter_frames(build_frame_rows(v), RUN_DATE_START, RUN_DATE_END)
    }
    nd_by_aoi: dict[tuple, list[dict]] = {}
    for r in ndvi_rows:
        nd_by_aoi.setdefault((r["url"], r["feature_index"]), []).append(r)
    gj_urls: list[str] = []
    gj_fis: list[int] = []
    gj_md5: list[str] = []
    for a in aois:
        key = (a["url"], a["feature_index"])
        ring = ",".join(
            "[%s,%s]" % (_fixed(pt[0], 6), _fixed(pt[1], 6))
            for pt in a["exterior_coords"]
        )
        geom = '{"type":"Polygon","coordinates":[[%s]]}' % ring
        feats = []
        for r in sorted(nd_by_aoi.get(key, []), key=lambda r: r["frame_id"]):
            fr = frame_attr[(r["naip_variant"], r["frame_id"])]
            props = ['"frame_index":%d' % r["frame_id"]]
            props.append(
                '"label":%s'
                % _json.dumps(r["season"].capitalize() + " " + str(r["year"]))
            )
            props.append('"year":%d' % r["year"])
            props.append('"season":%s' % _json.dumps(r["season"]))
            props.append('"start_date":%s' % _json.dumps(fr["start"]))
            props.append('"end_date":%s' % _json.dumps(fr["end"]))
            props.append('"collection":%s' % _json.dumps(fr["collection"]))
            props.append('"is_naip":%s' % ("true" if fr["is_naip"] else "false"))
            st = r["ndvi"]
            if st is not None:
                props.append('"ndvi_mean":%s' % _fixed(st["mean"], 4))
                props.append('"ndvi_min":%s' % _fixed(st["min"], 4))
                props.append('"ndvi_max":%s' % _fixed(st["max"], 4))
                props.append('"ndvi_std":%s' % _fixed(st["std"], 4))
            props.append('"ndvi_scene_id":%s' % _json.dumps(r["scene_id"]))
            feats.append(
                '{"type":"Feature","geometry":%s,"properties":{%s}}'
                % (geom, ",".join(props))
            )
        s = summ_by.get(key)
        cds = []
        if s is not None:
            cds.append('"comparisons":%d' % s["comparisons"])
            cds.append('"total_loss_ha":%s' % _fixed(s["total_loss_ha"], 2))
            cds.append('"total_gain_ha":%s' % _fixed(s["total_gain_ha"], 2))
            if s["avg_mean_delta"] is not None:
                cds.append('"avg_mean_delta":%s' % _fixed(s["avg_mean_delta"], 4))
            cds.append('"trajectory":%s' % _json.dumps(s["trajectory"]))
        feats.append(
            '{"type":"Feature","geometry":{"type":"Point","coordinates":[%s,%s]},'
            '"properties":{"type":"summary","change_detection_summary":{%s}}}'
            % (_fixed(a["centroid"][0], 6), _fixed(a["centroid"][1], 6), ",".join(cds))
        )
        doc = '{"type": "FeatureCollection", "features": [' + ", ".join(feats) + "]}"
        gj_urls.append(a["url"])
        gj_fis.append(a["feature_index"])
        gj_md5.append(hashlib.md5(doc.encode("utf-8")).hexdigest())
    _write(
        out_dir,
        "geojson_md5",
        {"url": gj_urls, "feature_index": gj_fis, "geojson_md5": gj_md5},
    )

    _write(
        out_dir,
        "wdpa_overlap",
        {
            "url": [h["url"] for h in hits],
            "feature_index": [h["feature_index"] for h in hits],
            "wdpa_id": [h["wdpa_id"] for h in hits],
            "pa_name": [h["pa_name"] for h in hits],
            "designation": [h["designation"] for h in hits],
            "iucn_category": [h["iucn_category"] for h in hits],
        },
    )
    return out_dir
