"""spark-submit entry point (scripts/submit_job.py): archive building,
full-mode run with checkpointing, resume short-circuit, and the eudr and
timelapse modes."""

import json
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

from tests.conftest import SF_SMALL


def test_build_archive(tmp_path):
    from submit_job import build_archive

    out = build_archive(str(tmp_path / "awfks.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "azure_workflow_for_kml_satellite_spark/__init__.py" in names
    assert "azure_workflow_for_kml_satellite_spark/operators/spatial_join.py" in names
    # nothing but the package ships (no tests/, no data/)
    assert all(n.startswith("azure_workflow_for_kml_satellite_spark/") for n in names)


def test_submit_full_mode_checkpoints_and_resumes(spark, tmp_path):
    from submit_job import parse_args, run_job

    argv = [
        "--sf-dir", SF_SMALL,
        "--mode", "full",
        "--checkpoint-root", str(tmp_path),
        "--run-id", "t1",
    ]
    r1 = run_job(spark, parse_args(argv))
    assert r1["counts"]["aois"] > 0 and r1["counts"]["ndvi"] > 0
    assert r1["ledger_rows"] > 0
    # the result dict is what main() prints as the job's one JSON line
    json.dumps(r1)
    # same run_id → completed stages short-circuit to checkpoint reads,
    # identical counts, ledger not duplicated
    r2 = run_job(spark, parse_args(argv))
    assert r2["counts"] == r1["counts"]
    assert r2["ledger_rows"] == r1["ledger_rows"]
    # checkpointed stage directories exist on disk
    assert (tmp_path / "t1" / "ndvi").exists()
    assert (tmp_path / "t1" / "_ledger").exists()


def test_submit_eudr_and_timelapse_modes(spark):
    """The two other modes, without a checkpoint root: every output has
    rows, eudr gives one verdict per AOI, and timelapse turns the one
    pasted coordinate into one AOI with one trend row."""
    from submit_job import parse_args, run_job

    eudr = run_job(spark, parse_args(["--sf-dir", SF_SMALL, "--mode", "eudr"]))["counts"]
    assert all(n > 0 for n in eudr.values()), eudr
    assert eudr["determination"] == eudr["aois"]
    tl = run_job(spark, parse_args(["--sf-dir", SF_SMALL, "--mode", "timelapse"]))["counts"]
    assert all(n > 0 for n in tl.values()), tl
    assert tl["aois"] == 1 and tl["trend"] == 1


def test_submit_session_master_fallback():
    """make_session without spark-submit uses the tuned local master."""
    from submit_job import make_session

    s = make_session("kmlsat-test")
    assert s.conf.get("spark.master").startswith("local")
