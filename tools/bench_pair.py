#!/usr/bin/env python
"""Like-for-like perf triage between two checkouts of this repo.

Round-6 verdict task #1: the r5->r6 steady-state deltas on
q_pagerank_order_graph (+83%) and q_minhash_near_dup_pairs (+56%) are
confounded by (a) different VMs per round and (b) the round-6
cache-accounting change (scoped_persist + release_persists landed in r6;
r5 warm passes ran against leaked caches). This tool removes both
confounders: run it twice IN THE SAME SESSION ON THE SAME VM, once per
checkout, with an identical harness convention — caches force-released
between every timed pass via spark.catalog.clearCache() (available in
both versions, unlike release_persists which is r6-only).

Usage:
    python tools/bench_pair.py <repo_dir> <label> <query> [<query> ...]

Prints one JSON line: {"label":..., "host_calib":..., "queries":
{name: {"cold": s, "steady": s, "passes": [...]}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    repo = os.path.abspath(sys.argv[1])
    label = sys.argv[2]
    names = sys.argv[3:]
    # host_calib comes from this tool's own checkout, imported BEFORE the
    # checkout under test goes on sys.path: that one may predate it.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import host_calib

    sys.path.insert(0, repo)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_project_spark.plans.registry import all_specs
    from etl_project_spark.session import get_spark

    spark = get_spark("bench-pair-" + label)
    specs = all_specs()

    from etl_project_spark.catalog import TABLES, read_table

    for t in TABLES:
        read_table(spark, sf_dir, t).count()

    def release() -> None:
        # Version-neutral cache release: clearCache() unpersists every
        # cached plan regardless of which persist API created it, and
        # runs on checkouts that predate session.query_scope.
        spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        passes: list[float] = []
        for _ in range(4):
            t0 = time.perf_counter()
            df = spec.builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            passes.append(round(time.perf_counter() - t0, 3))
            release()
        out[name] = {
            "cold": passes[0],
            "steady": sorted(passes[1:])[1],
            "passes": passes,
        }

    print(json.dumps({"label": label, "host_calib": host_calib(), "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
