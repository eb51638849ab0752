from __future__ import annotations

import glob
import os
import tempfile

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
# Default to the DRIVER's t2 scale: float-rounding boundaries differ
# between scale factors (a half-cent ROUND divergence reproduced only
# at sf0.01), so parity must be proven where the driver checks it.
# Override with SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 for a
# faster inner loop while iterating.
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from etl_project_spark.session import get_spark

    s = get_spark("etl-project-spark-tests", cpus=8, driver_memory="6g")
    yield s
    s.stop()


@pytest.fixture(scope="session", autouse=True)
def no_leaked_package_temp_dirs():
    """Fail the run when it leaves a new ``etl_project_spark_*`` entry in
    the temp dir (a per-session package zip and per-process index
    scratch dirs once leaked there).

    Set up before, torn down after the ``spark`` fixture, so the session
    has stopped when this checks.
    """
    pattern = os.path.join(tempfile.gettempdir(), "etl_project_spark_*")
    before = set(glob.glob(pattern))
    yield
    left = sorted(set(glob.glob(pattern)) - before)
    if left:
        pytest.fail(f"the test run left package temp dirs behind: {left}")
