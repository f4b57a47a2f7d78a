"""Checks of the benchmark's own correctness machinery (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
for _p in (str(ROOT), str(HERE)):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import bench_checks as C  # noqa: E402
import bench_workloads as W  # noqa: E402
import run as R  # noqa: E402


def _table(rows):
    return pa.table(
        {
            "url": [r[0] for r in rows],
            "v": pa.array([r[1] for r in rows], pa.float64()),
            "bbox": pa.array([r[2] for r in rows], pa.list_(pa.float64())),
        }
    )


ROWS = [(f"u{i}", i / 7.0, [i * 0.5, -i * 0.25]) for i in range(50)]


def test_digest_ignores_row_order():
    shuffled = ROWS[:]
    random.Random(1).shuffle(shuffled)
    assert C.digest_table(_table(ROWS)) == C.digest_table(_table(shuffled))


@pytest.mark.parametrize(
    "perturb",
    [
        lambda rows: rows.__setitem__(17, (rows[17][0], rows[17][1] + 1e-12, rows[17][2])),
        lambda rows: rows.__setitem__(3, (rows[3][0], rows[3][1], [rows[3][2][1], rows[3][2][0]])),
        lambda rows: rows.__setitem__(9, ("u10", rows[9][1], rows[9][2])),
        lambda rows: rows.pop(),
        lambda rows: rows.append(rows[0]),
    ],
    ids=["value-ulp", "nested-order", "key", "row-dropped", "row-duplicated"],
)
def test_one_row_perturbation_fails_the_digest(tmp_path, perturb):
    pq.write_table(_table(ROWS), tmp_path / "good.parquet")
    bad = ROWS[:]
    perturb(bad)
    (tmp_path / "bad").mkdir()
    pq.write_table(_table(bad), tmp_path / "bad" / "part-0.parquet")
    assert C.digest_output(tmp_path / "good.parquet") != C.digest_output(tmp_path / "bad")


def _ndvi_row():
    """One NDVI output row as the engine computes it, for a small window of
    the first Sentinel-2 scene."""
    from azure_workflow_for_kml_satellite_spark.operators.ndvi import (
        compute_ndvi_for_row,
    )

    scenes = pq.read_table(W.SF_DIR / "scenes.parquet").to_pylist()
    s = next(x for x in scenes if x["collection"] == "sentinel-2-l2a")
    lon, lat = (s["min_lon"] + s["max_lon"]) / 2, (s["min_lat"] + s["max_lat"]) / 2
    row = {
        "url": "https://example.org/page/0000001",
        "scene_id": s["scene_id"],
        "s_min_lon": s["min_lon"], "s_min_lat": s["min_lat"],
        "s_max_lon": s["max_lon"], "s_max_lat": s["max_lat"],
        "resolution_m": 10.0,
        "ndvi_collection": "sentinel-2-l2a",
        "min_lon": lon, "min_lat": lat, "max_lon": lon + 0.01, "max_lat": lat + 0.01,
    }
    row.update(compute_ndvi_for_row(row))
    return row


def test_oracle_accepts_engine_row_and_rejects_a_perturbed_one():
    row = _ndvi_row()
    assert row["ndvi_mean"] is not None
    assert C.check_ndvi_row(row)
    for field, delta in (("ndvi_mean", 1e-4), ("valid_pixels", 1), ("masked_pixels", 1)):
        bad = {**row, field: row[field] + delta}
        assert not C.check_ndvi_row(bad), field


def test_change_oracle_rejects_a_perturbed_row():
    from azure_workflow_for_kml_satellite_spark.operators.change import (
        change_stats_for_pair_blocked,
    )

    a = _ndvi_row()
    b = {**a, "scene_id": a["scene_id"] + "-b"}
    rec = {**{f"a_{k}": v for k, v in a.items()}, **{f"b_{k}": v for k, v in b.items()}}
    st = change_stats_for_pair_blocked(rec, -0.1, 0.1)
    assert st is not None
    row = {
        "season": "summer", "year_from": 2022, "year_to": 2023,
        "label": "Summer 2022 → 2023",
        **{k: st[k] for k in C._CHANGE_FIELDS if k != "valid_change_pixels"},
        "valid_change_pixels": st["valid_pixels"],
    }
    assert C.check_change_row(row, a, b)
    assert not C.check_change_row({**row, "loss_ha": row["loss_ha"] + 0.01}, a, b)
    assert not C.check_change_row({**row, "label": "Summer 2021 → 2023"}, a, b)


def test_benchmark_json_matches_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(R.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(R.WORKLOADS)


def test_every_seed_class_has_recorded_digests():
    recorded = json.loads(R.EXPECTED.read_text())
    for workload in W.JOBS:
        for cls in range(W.SEED_CLASSES):
            assert set(recorded[workload][str(cls)]) == set(W.OUTPUTS[workload])


def test_page_windows_keep_monster_and_mega_counts():
    from azure_workflow_for_kml_satellite_spark.sources.synth import page_kind

    for workload in R.WORKLOADS:
        for seed in (0, 2, 7, 15):
            off = W.page_offset(workload, seed)
            kinds = [page_kind(i) for i in range(off, off + W.PAGES)]
            assert kinds.count("monster") == W.PAGES // 500
            assert kinds.count("mega") == W.PAGES // 1000
