#!/usr/bin/env python
"""Scale sweep: execute EVERY registered query at a given SF and report
timings — the per-round regression net behind BASELINE.md's "all
queries execute clean, no scale cliffs" claim.

Usage:  python tools/sweep.py [sf_dir] [slow_threshold_s]
        (defaults: /root/testdata/sf0.1, 2.0)

Prints one line per slow-or-failed query plus a total; exits nonzero if
any query fails.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


#: Orphaned-scratch ceiling a query may start with, and how long to
#: wait for the ContextCleaner to get there. 4 GiB leaves the measured
#: worst spiller (q_knn_join_lsh, ~67 GB own spill at sf10) real
#: headroom on a ~77 GB-free host; the timeout keeps a wedged cleaner
#: from stalling the sweep (we proceed and let the query take its
#: chances, as before).
_SCRATCH_CEILING = 4 << 30
_SCRATCH_TIMEOUT_S = 180.0


def _scratch_roots(spark) -> list[str]:
    """THIS session's scratch dirs, asked of the session itself.

    The r13 barrier globbed every /tmp/spark-* and /tmp/blockmgr-* —
    including stale trees from crashed or concurrent sessions that our
    ContextCleaner will never delete, so one leftover >4 GiB orphan
    made the drain burn its full timeout between EVERY query (ADVICE
    r13). The DiskBlockManager knows the real spill roots and the
    session dir holds userFiles; both are exact and session-scoped.
    Falls back to the old global globs only if the JVM probes fail.
    """
    roots: list[str] = []
    try:
        jdirs = (
            spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
            .blockManager()
            .diskBlockManager()
            .localDirs()
        )
        roots += [str(d.getAbsolutePath()) for d in jdirs]
    except Exception:
        pass
    try:
        roots.append(
            str(
                spark.sparkContext._jvm.org.apache.spark.util.Utils.getLocalDir(
                    spark.sparkContext._jsc.sc().conf()
                )
            )
        )
    except Exception:
        pass
    if not roots:
        import glob
        import tempfile

        roots = glob.glob(os.path.join(tempfile.gettempdir(), "spark-*")) + glob.glob(
            os.path.join(tempfile.gettempdir(), "blockmgr-*")
        )
    return roots


def _scratch_bytes(roots: list[str]) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass  # cleaner deleted it mid-walk — that's the goal
    return total


#: Reap stale foreign scratch when free disk drops below this. The
#: biggest in-sweep spillers (contamination ~60 GB, knn-join post-diet
#: ~19 GB) die exactly when orphans push free space under their peak.
_FREE_FLOOR = 60 << 30
#: A scratch tree none of whose files changed for this long belongs to
#: a dead session (a live Spark session touches its dirs constantly).
#: 1800 s sits 3× above the longest observed single-query stage
#: (~600 s, minhash at sf10) so a live session parked in one long
#: no-write stage can't look stale (ADVICE r14); the open-fd liveness
#: probe below is the primary guard, this is the belt.
_STALE_AGE_S = 1800.0


def _tree_in_use(d: str) -> bool:
    """True if ANY live process holds an open fd inside tree ``d``.

    mtime staleness alone can misfire: a live session mid-way through a
    long pure-compute stage writes nothing, and a driver's spark-* temp
    dir (jars, userFiles) may be untouched for the whole app lifetime.
    A /proc fd scan is exact for the dangerous case — deleting a file
    some JVM still has open (shuffle fetch, persisted block) — and
    costs one readdir per process, only paid under disk pressure.

    Two cases the fd scan alone misses (ADVICE r15): a file held only
    via mmap (fd closed after mapping — NIO shuffle index/data reads do
    this), covered by also scanning /proc/<pid>/maps; and a process we
    cannot inspect (EACCES on the fd dir). The conservative IN-USE
    verdict for the latter applies only to SAME-UID processes (ADVICE
    r16): our own Spark children are same-uid, so an uninspectable one
    may well own the tree — but on a hidepid mount or an unprivileged
    run alongside other-uid daemons, treating every EACCES as in-use
    would make EVERY candidate tree read as held and permanently
    disable the reaper, the OOD-disk failure mode it exists to
    prevent. Other-uid processes cannot hold our per-uid scratch trees
    for writing, so their EACCES is logged (once per pid per call) and
    skipped. A vanished pid (ENOENT/ESRCH) stays not-in-use.
    The scan-then-rmtree TOCTOU window remains (nothing short of a lock
    closes it); the 1800 s mtime belt plus the fact that sessions create
    new scratch trees rather than adopt orphaned ones keeps that window
    benign."""
    dreal = os.path.realpath(d).rstrip(os.sep)
    prefix = dreal + os.sep
    my_uid = os.getuid()

    def _same_uid(pid: str) -> bool:
        try:
            return os.stat(os.path.join("/proc", pid)).st_uid == my_uid
        except OSError:
            return False  # raced exit — cannot own anything anymore

    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        fddir = os.path.join("/proc", pid, "fd")
        try:
            fds = os.listdir(fddir)
        except PermissionError:
            if _same_uid(pid):
                return True  # uninspectable same-uid process — assume in-use
            print(
                f"sweep: pid {pid} uninspectable (other uid), "
                "not blocking reap",
                flush=True,
            )
            continue
        except OSError:
            continue  # raced exit
        for fd in fds:
            try:
                tgt = os.readlink(os.path.join(fddir, fd))
            except OSError:
                continue
            if tgt == dreal or tgt.startswith(prefix):
                return True
        # mmap-only holds: fd closed after mapping, path still live in
        # the address space. One read per process, same pressure gate.
        try:
            with open(os.path.join("/proc", pid, "maps")) as fh:
                for line in fh:
                    parts = line.split(None, 5)
                    path = parts[5].strip() if len(parts) == 6 else ""
                    if path == dreal or path.startswith(prefix):
                        return True
        except PermissionError:
            if _same_uid(pid):
                return True
            print(
                f"sweep: pid {pid} maps uninspectable (other uid), "
                "not blocking reap",
                flush=True,
            )
            continue
        except OSError:
            continue
    return False


def _free_bytes() -> int:
    import tempfile

    st = os.statvfs(tempfile.gettempdir())
    return st.f_bavail * st.f_frsize


def _reap_stale_foreign_scratch(own_roots: list[str]) -> int:
    """Delete /tmp scratch trees that belong to NO live session: not
    ours, and untouched for _STALE_AGE_S. The r14 sf10 sweep died on
    disk because a failed query's and dead sessions' orphans ate the
    headroom q_benchmark_contamination needs — and a barrier that only
    WAITS can never reclaim another session's tree (its ContextCleaner
    is gone). Deleting is gated THREE ways (ADVICE r14): not one of our
    own roots, no live process holds an fd inside the tree (exact
    guard — see _tree_in_use), and nothing in it was touched for
    _STALE_AGE_S (belt, 3x the longest observed stage). Each deleted
    tree is logged so a post-mortem can tell reaped-orphan from
    crashed-session. Returns trees removed."""
    import glob
    import shutil
    import tempfile

    own = {os.path.realpath(r) for r in own_roots}
    now = time.time()
    reaped = 0
    for pat in ("spark-*", "blockmgr-*"):
        for d in glob.glob(os.path.join(tempfile.gettempdir(), pat)):
            if os.path.realpath(d) in own:
                continue
            try:
                newest = os.path.getmtime(d)
                for dp, _dirs, files in os.walk(d):
                    for f in files:
                        try:
                            newest = max(
                                newest, os.path.getmtime(os.path.join(dp, f))
                            )
                        except OSError:
                            pass
            except OSError:
                continue
            if now - newest > _STALE_AGE_S and not _tree_in_use(d):
                print(f"reaping stale foreign scratch: {d}", flush=True)
                shutil.rmtree(d, ignore_errors=True)
                reaped += 1
    return reaped


def _drain_scratch(spark) -> None:
    """Bounded barrier: wait for async ContextCleaner deletions until
    THIS session's scratch is below _SCRATCH_CEILING (or the timeout
    fires, or the size stops shrinking — mass the cleaner isn't
    reaping won't drain no matter how long we poll). Under disk
    pressure, additionally reap stale foreign scratch trees — waiting
    cannot reclaim those (see _reap_stale_foreign_scratch)."""
    roots = _scratch_roots(spark)
    if _free_bytes() < _FREE_FLOOR:
        n = _reap_stale_foreign_scratch(roots)
        if n:
            print(
                f"reaped {n} stale foreign scratch trees "
                f"(free now {_free_bytes() >> 30} GiB)",
                flush=True,
            )
    deadline = time.perf_counter() + _SCRATCH_TIMEOUT_S
    prev = None
    stalled = 0
    while time.perf_counter() < deadline:
        size = _scratch_bytes(roots)
        if size <= _SCRATCH_CEILING:
            return
        stalled = stalled + 1 if prev is not None and size >= prev else 0
        if stalled >= 3:
            print(
                f"scratch drain stalled at {size >> 30} GiB "
                "(not shrinking) — proceeding",
                flush=True,
            )
            return
        prev = size
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(3.0)
    print(
        f"scratch drain timed out at {_scratch_bytes(roots) >> 30} GiB — proceeding",
        flush=True,
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    slow = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

    from etl_project_spark.plans.registry import all_specs
    from etl_project_spark.session import get_spark, query_scope

    # 20g heap unless the env overrides: a full-registry sweep at sf1+
    # stacks one query's lingering cache blocks against the next
    # query's shuffle; the default 8g OOM'd in round 13 (query_scope's
    # blocking release is the fix, the headroom is the belt)
    spark = get_spark(
        "sweep",
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"),
    )
    specs = all_specs()
    if only is not None:
        unknown = only - set(specs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            return 2
        specs = {k: v for k, v in specs.items() if k in only}
    times: dict[str, float] = {}
    failed: list[str] = []
    for name, spec in specs.items():
        try:
            with query_scope(spark, name):
                t0 = time.perf_counter()
                # noop write forces full-column evaluation (count() lets
                # Spark prune projections and would under-measure).
                spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times[name] = round(time.perf_counter() - t0, 2)
            # stream progress (flush: the sweep runs for minutes and is
            # often watched from a tail -f; buffered output hides which
            # query a straggler stage belongs to)
            print(f"{name:45s} {times[name]:8.2f}s", flush=True)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            failed.append(name)
            print(f"{name:45s} FAIL {type(e).__name__}: {str(e)[:140]}")
        finally:
            # Shuffle files of FINISHED queries persist in /tmp/spark-*
            # until ContextCleaner notices the stage references are
            # dead — which needs a JVM GC, and the default periodic GC
            # runs every 30 min. Across a 296-query session the orphans
            # stack to tens of GB and starved q_knn_join_lsh's spill of
            # disk at sf10 (r13: "No space left" with 74 GB nominally
            # free). Force the GC so each query starts disk-clean.
            #
            # The GC alone is NOT enough (r13b sweep): ContextCleaner
            # deletions are ASYNCHRONOUS, and q_knn_join_lsh's own
            # spill peaks ~67 GB on this host's ~77 GB free (measured
            # isolated, 251.6 s clean) — so even ~10 GB of
            # not-yet-reaped orphans kills it. Barrier: after nudging
            # the GC, WAIT (bounded) until the session's scratch dirs
            # drain below a threshold, re-nudging as we go — the
            # moral equivalent of a cluster shuffle-service cleanup
            # between jobs.
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            _drain_scratch(spark)
    for name, t in sorted(times.items(), key=lambda kv: -kv[1]):
        if t > slow:
            print(f"{name:45s} {t:6.2f}s")
    # label with the ATTEMPTED registry size, not just the timed count
    # (r15's record said "302 queries" while the registry held 304 —
    # the two indexed queries registered after that sweep started; the
    # explicit "of N" erases that class of asterisk)
    print(
        f"total: {round(sum(times.values()), 1)}s over {len(times)} timed "
        f"of {len(specs)} queries ({len(failed)} failed) at {sf_dir}"
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
