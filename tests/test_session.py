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
    own directory and a query-scoped index dir go with the context. Runs in a child process: the
    suite's shared session must not be stopped."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import os
        from pyspark import SparkFiles
        from etl_project_spark.session import get_spark
        from etl_project_spark.sources.dedup_index import query_scoped_index_dir
        from etl_project_spark.sources.paginated import register_paginated_source

        s = get_spark("ship-test", cpus=2, driver_memory="1g")
        register_paginated_source(s)
        # workers import the package from the shipped zip only: the
        # child's cwd and PYTHONPATH do not hold the repository
        n = s.read.format("paginated_table").option("n_rows", 30).load().count()
        root = SparkFiles.getRootDirectory()
        index_dir = query_scoped_index_dir(s, "minhash", "/data/sf1")
        os.makedirs(index_dir)
        assert index_dir.startswith(root + os.sep), index_dir
        s.stop()
        print(n, root, index_dir)
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
    n, root, index_dir = out.stdout.split()[-3:]
    assert n == "30"
    assert not os.path.exists(root)
    assert not os.path.exists(index_dir)
    assert [p for p in os.listdir(tmp_path) if p.startswith("etl_project_spark_")] == []


def test_tune_session_records_failed_confs_and_logs_once(spark, monkeypatch, caplog):
    """A conf whose set raises does not fail ``tune_session``: it is
    recorded on the context and logged once, however often the session
    is tuned, and the other confs are still applied."""
    import logging

    from etl_project_spark import session as S

    key = "spark.sql.warehouse.dir"  # a static conf: setting it at runtime raises
    monkeypatch.setitem(S._RUNTIME_CONFS, key, "/nonexistent-warehouse")
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "_etl_failed_confs", {}, raising=False)
    spark.conf.set("spark.sql.session.timeZone", "America/Buenos_Aires")
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        S.tune_session(spark)
        S.tune_session(spark)
    assert list(sc._etl_failed_confs) == [key]
    assert sum(key in r.getMessage() for r in caplog.records) == 1
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
