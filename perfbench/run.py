"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced variant and prints the per-layer metrics, and writes its spans
to ``perfbench/traces/<workload>-seed<seed>.json``. A ``detail:`` line
carries the workload's own figures (``load_rows_per_s`` and so on); the
last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``.
Everything the run writes lives under ``perfbench/_work/<pid>`` and is
removed before it exits. Without the engine's package beside it, the
run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: End-to-end metrics, printed by every workload with ``--trace 0``.
#: A round is one load (``etl_load``) or one append + probe cycle
#: (``index_cycles``). The byte ratio is parquet sink bytes over served
#: HTML bytes, or index bytes over the UTF-8 text bytes indexed.
END_TO_END_UNITS = {"setup_s": "s", "round_p50_s": "s", "out_bytes_per_in_byte": "ratio"}

#: Per-layer metrics, printed by every workload with ``--trace 1``.
#: ``plans.*`` and ``spark.*`` are medians per timed round; the JVM's
#: collection time covers the whole run, since a round's is often 0.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.first_op_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.driver_peak_rss_mb": "MB",
    "session.jvm_gc_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.executor_run_s": "s",
}

WORKLOAD_NAMES = ("etl_load", "index_cycles")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every temporary file of Python, the JVM and Spark into
    ``work`` and make it the working directory (Spark puts its
    warehouse and Derby files there). The console progress bar is off,
    so standard error carries only the run's own progress lines."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={work} '
        f'-XX:-UsePerfData" --conf spark.ui.showConsoleProgress=false pyspark-shell'
    )
    os.chdir(work)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_project_spark")):
        print("perfbench: the etl_project_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # One core is left to the JVM's compiler and collector threads, the
    # Python driver and the page server: with every core busy, timings
    # followed the host's steal time (README, "Steadiness and bounds").
    cpus = max(1, (os.cpu_count() or 1) - 1)
    work = os.path.join(HERE, "_work", str(os.getpid()))
    os.makedirs(work)
    spark = workload = None
    try:
        _isolate(work)
        from harness import (
            Tracer, driver_peak_rss_mb, jvm_gc_s, jvm_peak_rss_mb, log, median, medians,
            start_session, stop_session, summarise,
        )
        from workloads import WORKLOADS

        spark, start_s = start_session(cpus)
        log(f"session started in {start_s:.2f}s")
        tracer = Tracer(bool(args.trace), spark)
        tracer.add("session.start_s", start_s)
        workload = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.size, cpus)
        workload.setup()
        setup_s = time.perf_counter() - t_start
        log(f"set-up done in {setup_s:.2f}s")
        workload.measure(args.seconds)
        log("measured and checked")
        values = {
            "setup_s": setup_s,
            "round_p50_s": median(workload.rounds),
            "out_bytes_per_in_byte": workload.out_bytes_per_in_byte,
        }
        end_to_end = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        # The workload's own figures, on a line before the result.
        print("detail: " + json.dumps(workload.detail))
        tracer.add("session.jvm_peak_rss_mb", jvm_peak_rss_mb(spark))
        tracer.add("session.driver_peak_rss_mb", driver_peak_rss_mb())
        tracer.add("session.jvm_gc_s", jvm_gc_s(spark))
        if args.trace:
            metrics = summarise(tracer, LAYER_UNITS)
            tracer.write(
                os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "end_to_end": end_to_end,
                 "detail": workload.detail, "per_layer": metrics, "medians": medians(tracer)},
            )
            # Untimed context for the tracing-overhead comparison.
            print("traced end_to_end: " + json.dumps(end_to_end))
        else:
            metrics = end_to_end
        result = {
            "correct": workload.bad_output == 0,
            "attempted": workload.attempted,
            "failed": workload.failed,
            "metrics": metrics,
        }
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            stop_session(spark)
            log("session stopped")
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a sibling
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
