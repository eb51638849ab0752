#!/usr/bin/env python
"""Dump .explain("formatted") for bench queries to plans/<round>/<q>_<tag>.txt.

Optimization-round evidence: one file per query per tag so before/after
plan diffs are committable. Index-building queries execute their build
as part of the builder; plans are captured AFTER the build, which is
the served probe plan — the same thing the bench times after the
build jobs.

Usage: python tools/dump_plans.py <round> <tag> [query ...]
       e.g. python tools/dump_plans.py r18 before q_minhash_indexed_pairs
       (no queries -> the full bench list; corpus: $SPARK_GRAFT_SF_DIR,
       default as in bench.py)
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    import bench
    from etl_project_spark.plans.registry import all_specs
    from etl_project_spark.session import get_spark, release_persists

    names = sys.argv[3:] or list(bench.BENCH_QUERIES)
    spark = get_spark(f"plans-{rnd}")
    specs = all_specs()
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = specs[name].builder(spark, bench.SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        release_persists(blocking=True)
        print(name, "ok", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
