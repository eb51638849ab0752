"""Persisted PQ/IVF-PQ index (sources/ann_index.py): serving from the
pay-once codes must (a) return bit-identical results to the
self-contained encode-per-query path, (b) actually skip the encode —
no Python/Arrow eval in the served plan — and (c) prune unprobed cells
at planning time for IVF-PQ."""

from __future__ import annotations

import pytest

from etl_project_spark.plans.registry import all_specs
from etl_project_spark.sources import ann_index as AX
from etl_project_spark.sources import dedup_index as DX
from tests.conftest import SF_ORACLE

PQ_QUERIES = ("q_pq_adc_topk", "q_pq_reconstruction_error", "q_knn_ivfpq_topk")


@pytest.fixture()
def pq_index(spark, tmp_path):
    idx = AX.persist_pq_index(
        spark, SF_ORACLE, path=str(tmp_path / "pq_index")
    )
    yield idx
    DX.clear_indexes()


def _run(spark, name):
    return [tuple(r) for r in all_specs()[name].builder(spark, SF_ORACLE).collect()]


@pytest.mark.parametrize("name", PQ_QUERIES)
def test_served_results_match_selfcontained(spark, tmp_path, name):
    DX.clear_indexes()  # belt-and-braces: no stale registration
    want = _run(spark, name)
    idx = AX.persist_pq_index(spark, SF_ORACLE, path=str(tmp_path / "pq"))
    try:
        assert DX.index_for(
            AX.PQIndex, SF_ORACLE, n_cells=idx.n_cells, n_sub=idx.n_sub
        )
        got = _run(spark, name)
    finally:
        DX.clear_indexes()
    assert got == want and len(got) > 0


def test_served_plan_runs_no_python_eval(spark, pq_index):
    """The encode UDF (ArrowEvalPython) must be absent from every
    served plan — that scan is exactly what the index amortizes."""
    for name in PQ_QUERIES:
        df = all_specs()[name].builder(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "PythonUDF" not in plan, name


def test_ivfpq_scan_prunes_unprobed_cells(spark, pq_index):
    """IVF-PQ over the index must touch only the probed cells'
    partition directories: the optimized plan's file-source scan
    carries a _cell partition filter."""
    df = all_specs()["q_knn_ivfpq_topk"].builder(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_cell" in plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_cell" in executed.replace("\n", " ") or (
        "_cell" in executed and "PartitionFilters" in executed
    )


def test_parameter_mismatch_disables_index(spark, pq_index):
    """Codes built under a different codebook are a wrong answer, not a
    fallback: mismatched params must resolve to 'no index'."""
    pq = AX.PQIndex
    assert DX.index_for(pq, SF_ORACLE, n_cells=pq_index.n_cells, n_sub=4) is None
    assert DX.index_for(pq, SF_ORACLE, n_cells=99, n_sub=pq_index.n_sub) is None
    assert (
        DX.index_for(
            AX.PQIndex, SF_ORACLE, n_cells=pq_index.n_cells, n_sub=pq_index.n_sub
        )
        is pq_index
    )


# -- round-17: IVF append + drift-aware rebalance ---------------------------


def _ivf_setup(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators import similarity as SIM

    e = read_table(spark, SF_ORACLE, "embeddings")
    hist = e.filter(F.col("vec_id") % 10 != 3)
    batch = e.filter(F.col("vec_id") % 10 == 3)
    cents = SIM.deterministic_centroids(hist, "embedding", "vec_id", n_cells=16)
    return e, hist, batch, cents


def test_ivf_append_grown_equals_rebuild(spark, tmp_path):
    """Frozen-centroid purity: history build + batch append must leave
    the cell-partitioned index row-identical to a whole-corpus rebuild
    with the same centroids — every partition-pruned probe is
    oblivious to how the index grew."""
    from etl_project_spark.operators import similarity as SIM

    e, hist, batch, cents = _ivf_setup(spark, tmp_path)
    grown_p = str(tmp_path / "grown")
    SIM.ivf_write_index(hist, "embedding", cents, grown_p, id_col="vec_id")
    SIM.ivf_append_index(batch, "embedding", cents, grown_p, id_col="vec_id")
    full_p = str(tmp_path / "full")
    SIM.ivf_write_index(e, "embedding", cents, full_p, id_col="vec_id")

    def rows(p):
        return sorted(
            (r.vec_id, int(r._cell), tuple(r.embedding))
            for r in spark.read.parquet(p).collect()
        )

    g, f = rows(grown_p), rows(full_p)
    assert g == f and g
    # and the append actually landed inside existing cell dirs
    assert {c for _, c, _ in g} == {c for _, c, _ in rows(full_p)}


def test_ivf_appended_query_matches_rebuilt_probe(spark):
    """q_knn_ivf_appended_topk == the rebuilt-index probe with the
    same frozen (history-seeded) centroids, bit for bit."""
    import os
    import tempfile

    from etl_project_spark.operators import similarity as SIM
    from etl_project_spark.plans.similarity import QUERY_VEC

    got = _run(spark, "q_knn_ivf_appended_topk")
    with tempfile.TemporaryDirectory() as td:
        e, hist, batch, cents = _ivf_setup(spark, None)
        p = os.path.join(td, "full")
        SIM.ivf_write_index(e, "embedding", cents, p, id_col="vec_id")
        want = [
            tuple(r)
            for r in SIM.ivf_topk_indexed(
                spark, p, "embedding", QUERY_VEC, cents,
                k=10, id_col="vec_id", n_probe=4,
            ).select("vec_id", "score", "rank").collect()
        ]
    assert got == want and len(got) == 10


def test_ivf_drift_detection_and_rebalance_restores_recall(spark, tmp_path):
    """The frozen-centroid failure mode, end to end on a synthetic
    corpus with a deliberate distribution shift: history clusters
    around two base directions; the appended batch lives in a third
    region that all lands in one frozen cell. The profile must flag
    exactly that cell (tightness ratio drop + occupancy blowup), a
    1-probe query aimed at the drifted region must MISS its true
    top-k against the stale layout, and after ivf_rebalance_cells
    splits the flagged cell the same 1-probe query must return the
    exact brute-force top-k (recall restored by the repair, not by
    probing wider)."""
    from etl_project_spark.operators import similarity as SIM

    dim = 8

    def vec(direction, i, lean_dir=None, lean=0.0):
        base = [0.0] * dim
        base[direction] = 1.0
        base[5] = 0.05 * (i % 5)  # per-vector variety, deterministic
        if lean_dir is not None:
            base[lean_dir] = lean
        return base

    # history: two clean clusters (dir 0, dir 2); the arriving batch
    # lives in dir 4 but LEANS 0.1 toward dir 0, so the frozen
    # assignment buries all of it in the dir-0 cell
    hist_rows = [(i, vec(0, i)) for i in range(40)] + [
        (100 + i, vec(2, i)) for i in range(40)
    ]
    batch_rows = [(200 + i, vec(4, i, lean_dir=0, lean=0.1)) for i in range(60)]
    hist = spark.createDataFrame(
        hist_rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    # stride 100 seeds exactly one centroid per history cluster
    # (vec_ids 0 and 100), keeping the geometry of the scenario exact
    cents = SIM.deterministic_centroids(
        hist, "embedding", "vec_id", n_cells=2, stride=100
    )
    path = str(tmp_path / "ivf")
    SIM.ivf_write_index(hist, "embedding", cents, path, id_col="vec_id")
    build_profile = SIM.ivf_cell_profile(
        spark.read.parquet(path), "embedding", cents
    )
    build_rows = {int(r._cell): r for r in build_profile.collect()}

    SIM.ivf_append_index(batch, "embedding", cents, path, id_col="vec_id")
    after_profile = SIM.ivf_cell_profile(
        spark.read.parquet(path), "embedding", cents
    )
    drifted = SIM.ivf_drifted_cells(build_profile, after_profile)
    assert len(drifted) == 1
    bad = drifted[0]
    after_rows = {int(r._cell): r for r in after_profile.collect()}
    assert after_rows[bad]["mean_sim"] < build_rows[bad]["mean_sim"]

    # a query in the drifted region, 1-probe, leaning 0.15 toward the
    # dir-2 cell: the stale centroids route it AWAY from the cell the
    # batch was buried in (cos to dir-0 cell = 0, to dir-2 cell =
    # 0.15), so the pre-repair probe scans the wrong cell entirely
    q = vec(4, 0, lean_dir=2, lean=0.15)
    brute = [
        r.vec_id
        for r in SIM.brute_force_topk(
            hist.unionByName(batch), "embedding", q, k=5, id_col="vec_id"
        ).collect()
    ]
    stale = [
        r.vec_id
        for r in SIM.ivf_topk_indexed(
            spark, path, "embedding", q, cents, k=5, id_col="vec_id", n_probe=1
        ).collect()
    ]
    grown_cents = SIM.ivf_rebalance_cells(
        spark, path, "embedding", cents, drifted, id_col="vec_id"
    )
    assert len(grown_cents) == len(cents) + 1
    repaired = [
        r.vec_id
        for r in SIM.ivf_topk_indexed(
            spark, path, "embedding", q, grown_cents,
            k=5, id_col="vec_id", n_probe=1,
        ).collect()
    ]
    assert repaired == brute
    assert stale != brute  # the drift was a real recall loss

    # rebalance must not lose or duplicate vectors
    ids = sorted(r.vec_id for r in spark.read.parquet(path).collect())
    assert ids == sorted(
        [i for i, _ in hist_rows] + [i for i, _ in batch_rows]
    )
