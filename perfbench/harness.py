"""Session lifetime, spans, job-group statistics and metric summaries.

The benchmark measures the engine from outside: it times calls into
the package's public functions and reads Spark's status store (which
Spark keeps with the UI off) for the jobs each operation ran.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import statistics
import sys
import time

T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, with the time since the run began."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def start_session(cpus: int):
    """A fresh ``local[cpus]`` session built by the engine's own factory.
    Returns ``(spark, seconds)``."""
    t0 = time.perf_counter()
    from etl_project_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the context, then end the JVM and wait for it: PySpark
    leaves the gateway process running until the interpreter exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line for the JVM")


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector of the JVM so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Tracer:
    """Spans around calls into the engine's layers, kept in memory.

    Disabled, every method is a cheap no-op, so untraced runs pay
    nothing for the trace points. Enabled, each operation also gets its
    own Spark job group, so the status store can attribute its jobs.
    """

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.values: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` from enter to exit, parented to the open span."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def job_group(self, label: str) -> str | None:
        """Start a new job group for one operation; returns its id."""
        if not self.enabled:
            return None
        self._groups += 1
        group = f"pb{self._groups}-{label}"
        self.spark.sparkContext.setJobGroup(group, label)
        return group

    def duration(self, name: str) -> float:
        """Duration of the most recent span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec["end"] - rec["start"]
        raise KeyError(name)

    def add(self, metric: str, value: float) -> None:
        if self.enabled:
            self.values.setdefault(metric, []).append(float(value))

    def mark(self) -> dict[str, int]:
        return {k: len(v) for k, v in self.values.items()}

    def rewind(self, mark: dict[str, int]) -> None:
        """Drop the values recorded since ``mark`` (a warm-up's)."""
        for k in list(self.values):
            del self.values[k][mark.get(k, 0):]
            if not self.values[k]:
                del self.values[k]

    def group_stats(self, group: str | None) -> dict[str, float]:
        """Jobs, completed stages, shuffle write bytes, executor run time
        and GC time of one job group, from the status store."""
        if group is None:
            return {}
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = {"jobs": len(job_ids), "stages": 0, "input_bytes": 0.0,
               "shuffle_write_bytes": 0.0, "executor_run_s": 0.0, "gc_s": 0.0}
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never-run (skipped) stages have no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
        return out

    def add_groups(self, groups: list[str | None]) -> None:
        """Record the summed status-store figures of one round's job
        groups as ``spark.<figure>``."""
        if not self.enabled:
            return
        stats = [self.group_stats(g) for g in groups]
        for key in stats[0]:
            self.add(f"spark.{key}", sum(s[key] for s in stats))

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def summarise(tracer: Tracer, units: dict[str, str]) -> dict[str, dict]:
    """Median of every recorded per-layer value, with its unit."""
    return {
        name: {"value": median(tracer.values[name]), "unit": unit}
        for name, unit in units.items()
    }


def medians(tracer: Tracer) -> dict[str, float]:
    """Median of every value the tracer recorded, listed or not."""
    return {name: median(values) for name, values in sorted(tracer.values.items())}
