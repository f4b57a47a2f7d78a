"""The native kernel's fallback is visible: a failed build or a failed
stats self-check leaves ``LIB`` None with the reason in ``BUILD_ERROR``
and one line on stderr, while ``SPARK_GRAFT_NATIVE=0`` disables it
silently. Each case imports the module in a fresh interpreter so the
import-time build really runs."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

_PROBE = (
    "import json\n"
    "from azure_workflow_for_kml_satellite_spark.functions import native as N\n"
    "print(json.dumps([N.LIB is None, N.BUILD_ERROR]))\n"
)


def _import_native(tmp_path: Path, gcc: str | None = None, **env: str):
    tmpdir = tmp_path / "tmp"  # empty: no cached .so to fall back on
    bindir = tmp_path / "bin"  # a PATH with no gcc on it, or a stand-in
    tmpdir.mkdir()
    bindir.mkdir()
    if gcc is not None:
        (bindir / "gcc").write_text(gcc)
        (bindir / "gcc").chmod(0o755)
    r = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmpdir), "PATH": str(bindir),
             "PYTHONPATH": str(REPO), **env},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    lib_none, reason = json.loads(r.stdout.strip().splitlines()[-1])
    return lib_none, reason, r.stderr


def test_failed_build_keeps_and_prints_reason(tmp_path):
    lib_none, reason, stderr = _import_native(tmp_path, SPARK_GRAFT_NATIVE="1")
    assert lib_none
    assert reason and "gcc" in reason
    assert stderr.count("native kernel unavailable") == 1
    assert reason in stderr


def test_compile_error_keeps_gcc_stderr(tmp_path):
    fake = "#!/bin/sh\necho 'native.c:1: error: stand-in failure' >&2\nexit 1\n"
    lib_none, reason, stderr = _import_native(tmp_path, gcc=fake, SPARK_GRAFT_NATIVE="1")
    assert lib_none
    assert reason.count("stand-in failure") == 2  # both flag sets tried
    assert stderr.count("native kernel unavailable") == 1


def test_disabled_native_is_silent(tmp_path):
    lib_none, reason, stderr = _import_native(tmp_path, SPARK_GRAFT_NATIVE="0")
    assert lib_none
    assert reason is None
    assert "native kernel unavailable" not in stderr


def test_stats_mismatch_disables_native(tmp_path):
    """A numpy whose std differs from the C statistics (stand-in: a patched
    ``numpy.std``) fails the import-time self-check: the whole numpy path
    runs and the reason names the statistics."""
    if shutil.which("gcc") is None:
        pytest.skip("needs gcc to build the kernel")
    probe = (
        "import numpy\n"
        "_std = numpy.std\n"
        "numpy.std = lambda x, *a, **k: _std(x, *a, **k) + numpy.float32(1e-3)\n"
        + _PROBE
    )
    r = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": str(REPO), "SPARK_GRAFT_NATIVE": "1"},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    lib_none, reason = json.loads(r.stdout.strip().splitlines()[-1])
    assert lib_none
    assert reason.startswith("native stats disagree with numpy")
    assert "std (n=20011)" in reason and "mean" not in reason
    assert r.stderr.count("native kernel unavailable") == 1
