"""bench.py's harness, without a JVM: ``main`` runs the suite a fixed two
times on the configured cores, never sleeps, and prints one JSON line for
the faster run that says which kernel path ran; a failed session warm-up
is recorded and printed instead of swallowed."""

from __future__ import annotations

import json
import time
from types import SimpleNamespace

import azure_workflow_for_kml_satellite_spark as kmlsat
import bench
from azure_workflow_for_kml_satellite_spark.functions import native

KEPT_KEYS = {
    "metric", "value", "unit", "queries", "sf", "cores", "geometries",
    "geometries_per_sec", "counts", "all_run_totals_sec",
    "native_build_error", "warm_error",
}


def _canned(value: float, cores: int) -> dict:
    return {
        "metric": "headline suite wall-clock", "value": value, "unit": "sec",
        "queries": {"q_extract_aoi": value}, "sf": "sf0.1", "cores": cores,
        "geometries": 100, "geometries_per_sec": 100 / value,
        "counts": {"q_extract_aoi": 100},
    }


def _run_main(monkeypatch, capsys, totals):
    calls = []
    pending = list(totals)

    def fake_run_bench(sf_dir, cores):
        calls.append((sf_dir, cores))
        return _canned(pending.pop(0), cores)

    def no_sleep(_s):
        raise AssertionError("bench.main must not sleep")

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sfX")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setattr(bench, "run_bench", fake_run_bench)
    monkeypatch.setattr(time, "sleep", no_sleep)
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    return calls, json.loads(lines[0])


def test_main_runs_twice_and_reports_the_faster_run(monkeypatch, capsys):
    monkeypatch.setattr(native, "BUILD_ERROR", None)
    monkeypatch.setattr(kmlsat, "WARM_ERROR", None)
    calls, out = _run_main(monkeypatch, capsys, [61.5, 58.25])
    assert calls == [("/data/sfX", 3), ("/data/sfX", 3)]
    assert out["value"] == 58.25
    assert out["all_run_totals_sec"] == [61.5, 58.25]
    assert out["cores"] == 3
    assert set(out) == KEPT_KEYS
    assert not [k for k in out if k.startswith(("band_", "calibration"))]
    assert out["native_build_error"] is None and out["warm_error"] is None


def test_main_reports_fallback_reasons(monkeypatch, capsys):
    monkeypatch.setattr(native, "BUILD_ERROR", "gcc: not found")
    monkeypatch.setattr(kmlsat, "WARM_ERROR", "RuntimeError('boom')")
    _, out = _run_main(monkeypatch, capsys, [40.0, 45.0])
    assert out["value"] == 40.0
    assert out["native_build_error"] == "gcc: not found"
    assert out["warm_error"] == "RuntimeError('boom')"


class _RefusingSession:
    """Just enough of a SparkSession for the warm-up: ``range`` raises."""

    def __init__(self, app_id: str):
        self.sparkContext = SimpleNamespace(applicationId=app_id)
        self.range_calls = 0

    def range(self, *args, **kwargs):
        self.range_calls += 1
        raise RuntimeError("range refused")


def test_warm_up_failure_is_recorded_and_printed_once(monkeypatch, capsys):
    monkeypatch.setattr(kmlsat, "WARM_ERROR", None)
    monkeypatch.setattr(kmlsat, "_WARMED", set())
    session = _RefusingSession("app-warm-stub")

    assert kmlsat._warm_python_workers(session, 2) is None  # no raise
    assert "range refused" in kmlsat.WARM_ERROR
    err = capsys.readouterr().err
    assert err.count("kmlsat session warm-up failed") == 1
    assert kmlsat.WARM_ERROR in err

    kmlsat._warm_python_workers(session, 2)  # same application id
    assert session.range_calls == 1
    assert capsys.readouterr().err == ""

