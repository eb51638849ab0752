"""Session plumbing: the package zip shipped to Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_shipped_package_zip_removed_when_session_stops(tmp_path):
    """A session ships the package to its workers and, once stopped,
    leaves no ``etl_project_spark_*`` entry in the temp dir; the zip's
    own directory goes with the context. Runs in a child process: the
    suite's shared session must not be stopped."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark import SparkFiles
        from etl_project_spark.session import get_spark
        from etl_project_spark.sources.paginated import register_paginated_source

        s = get_spark("ship-test", cpus=2, driver_memory="1g")
        register_paginated_source(s)
        # workers import the package from the shipped zip only: the
        # child's cwd and PYTHONPATH do not hold the repository
        n = s.read.format("paginated_table").option("n_rows", 30).load().count()
        root = SparkFiles.getRootDirectory()
        s.stop()
        print(n, root)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    n, root = out.stdout.split()[-2:]
    assert n == "30"
    assert not os.path.exists(root)
    assert [p for p in os.listdir(tmp_path) if p.startswith("etl_project_spark_")] == []
