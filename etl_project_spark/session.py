"""SparkSession factory and per-session tuning.

The driver hands us a session in ``__spark_entry__.entry``; tests and
bench build their own via :func:`get_spark`. Either way,
:func:`tune_session` applies the runtime-settable confs every query
relies on (UTC session timezone for oracle parity, AQE on).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: Runtime-settable confs applied to any session we touch. These are
#: safe to set on a live session (unlike e.g. driver memory).
_RUNTIME_CONFS = {
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so the
    # correctness oracle compares identical wall-clock values.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffled-hash over sort-merge when the per-partition build side
    # fits (guide §3.1/§9): both knobs are SIZE-gated, so the choice
    # adapts with scale rather than encoding local[32] — the planner
    # still falls back to SMJ whenever its size conditions fail, and
    # the AQE rewrite uses EXACT runtime shuffle statistics (64 MB
    # per-partition local-map cap; partitions at scale are sized by
    # AQE's advisory target, so the gate keeps working at 100 TB and
    # the build map stays far under executor memory). Knob-isolated
    # interleaved A/B at sf0.1 (8 join-heavy queries × 3 reps,
    # A/C1/C2/C3 rotation): every query ≤ baseline or noise-level
    # under both-on — copurchase 2.70→1.60 s, rake 2.31→1.40 s,
    # max_concurrent 1.90→1.20 s, cohort 0.83→0.50 s, q03 0.83→0.65 s;
    # worst mover q_dtw_topk_join +0.13 s (noise band). Wider 14-query
    # A/B/B/A run: −9.6% total.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The corpus events table stores timestamp[ns]; Spark's parquet
    # reader rejects TIMESTAMP(NANOS) outright. Read nanos as long and
    # convert explicitly in the catalog (truncation to µs matches what
    # DuckDB does natively, keeping oracle parity).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs; idempotent and cheap — call from any entry point.

    A conf whose set raises (a hosting harness may mark some static)
    never fails a query over a tuning knob: it is recorded in the
    context's ``_etl_failed_confs`` (conf → error) and logged once.
    """
    sc = spark.sparkContext
    failed = getattr(sc, "_etl_failed_confs", None)
    if failed is None:
        failed = sc._etl_failed_confs = {}
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if k not in failed:
                failed[k] = (str(e) or repr(e)).splitlines()[0]
                _log.warning("tune_session could not set %s=%s: %s", k, v, failed[k])
    ensure_shipped(spark)
    return spark


#: DataFrames persisted inside query builders, awaiting release by the
#: harness (bench / long-lived sessions). A builder can't unpersist its
#: own caches — they must stay live until the caller's action runs — so
#: cache LIFETIME is the caller's job: run the action, then call
#: :func:`release_persists`. One-shot sessions can ignore this (process
#: exit frees everything); the round-5 verdict's CacheManager-warning /
#: cache-growth finding is exactly what skipping it costs a long-lived
#: session.
_SCOPED_PERSISTS: list = []


def scoped_persist(df, level=None):
    """Persist ``df`` and track it for later :func:`release_persists`."""
    from pyspark import StorageLevel

    out = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _SCOPED_PERSISTS.append(out)
    return out


def track_for_release(df):
    """Track an already-cached DataFrame (e.g. a ``localCheckpoint``
    result) for :func:`release_persists` without re-persisting it."""
    _SCOPED_PERSISTS.append(df)
    return df


def release_persists(blocking: bool = False) -> int:
    """Unpersist every tracked cache; returns the count.

    Safe to call at any point after the caller's action has
    materialized — idempotent, never raises. Default is non-blocking
    (cheapest for one-shot callers); pass ``blocking=True`` between
    back-to-back heavy queries in one session — a non-blocking release
    frees the blocks asynchronously, so the NEXT query's shuffle can
    transiently double-reside with the previous query's cache (the
    round-13 sf1 sweep OOM'd exactly this way at 8g heap).
    """
    n = 0
    while _SCOPED_PERSISTS:
        df = _SCOPED_PERSISTS.pop()
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:
            pass
    return n


def context_dir(spark: SparkSession, name: str) -> str:
    """``<SparkFiles root>/<name>`` on the driver: a directory that Spark
    deletes with the context, when it stops or the JVM exits."""
    jvm = spark.sparkContext._jvm
    return os.path.join(jvm.org.apache.spark.SparkFiles.getRootDirectory(), name)


def ensure_shipped(spark: SparkSession) -> None:
    """Make ``etl_project_spark`` importable inside Python workers.

    Custom Python data sources and mapInPandas closures are pickled *by
    reference* — workers re-import this package, which fails whenever
    the driver found it via cwd/sys.path rather than an installed
    location. ``addPyFile`` ships a zip of the package to every worker
    (current and future) and puts it on their sys.path — the same
    mechanism that distributes code to a 1000-executor cluster.

    The zip is written inside the context's own directory
    (:func:`context_dir`). It must outlive every task: workers fetch the
    added file lazily, from the path it was added under.
    """
    sc = spark.sparkContext
    if getattr(sc, "_etl_project_spark_shipped", False):
        return
    import zipfile

    import etl_project_spark

    pkg_dir = os.path.dirname(os.path.abspath(etl_project_spark.__file__))
    parent = os.path.dirname(pkg_dir)
    # a subdirectory: addPyFile copies the zip into the root itself
    ship_dir = context_dir(spark, "etl_project_spark_src")
    os.makedirs(ship_dir, exist_ok=True)
    zpath = os.path.join(ship_dir, "etl_project_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, parent))
    sc.addPyFile(zpath)
    sc._etl_project_spark_shipped = True


def get_spark(
    app_name: str = "etl_project_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession sized for this host.

    local[N] is a single JVM; ``spark.driver.memory`` is the only memory
    knob that matters there. On a real cluster the same code runs
    unmodified — only master/memory confs differ.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # ~1 shuffle partition per core locally; AQE coalesces further.
        shuffle_partitions = cpus
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
