from __future__ import annotations

import contextlib
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = str(REPO / "data" / "sf0.001")


@pytest.fixture(scope="session")
def spark():
    # the shipped session config (worker daemon, shuffle writer, warm-up,
    # native build at setup), so the tests run what the engine runs
    from azure_workflow_for_kml_satellite_spark import get_spark

    s = get_spark("kmlsat-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@contextlib.contextmanager
def spark_confs(spark, confs):
    """Set session confs for the block; restore every one after it (the
    ``spark`` fixture is shared)."""
    before = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def final_plan(df) -> str:
    """The physical plan of ``df``'s last run, as AQE finalised it; call it
    after an action on ``df`` itself."""
    return df._jdf.queryExecution().executedPlan().toString()
