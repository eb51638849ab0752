"""The two workloads: ``etl_load`` and ``index_cycles``.

Each workload has a ``setup`` (inputs into memory or files, any index
build, one untimed warm-up round of its own operations) and a
``measure(seconds)`` that repeats whole rounds until the time is up, and
at least ``min_rounds`` times. A round is one load or one append + probe
cycle; every workload records the wall time of each timed round, the
bytes it writes per byte of its input, and its own figures in
``detail``. Operations go through :meth:`Workload.attempt`, so a call
that raises or an output that fails its check counts as failed and the
run carries on.
"""

from __future__ import annotations

import http.server
import itertools
import os
import random
import sys
import threading
import time
import traceback
from urllib.parse import parse_qs, urlparse

import pyarrow.parquet as pq

import checks
import inputs
from harness import Tracer, log, median

#: Per-workload sizes. ``full`` is what the benchmark measures; ``tiny``
#: runs every code path in seconds, for the benchmark's own tests.
SIZES = {
    "full": {
        "etl_load": {"rows": 20_000, "page": 500, "overlap": 0.25},
        "index_cycles": {"docs_per_source": 250, "history_sources": 3, "clones": 25},
    },
    "tiny": {
        "etl_load": {"rows": 300, "page": 50, "overlap": 0.25},
        "index_cycles": {"docs_per_source": 20, "history_sources": 6, "clones": 4},
    },
}


class Workload:
    name = ""
    #: Untimed warm-up rounds. The JVM keeps compiling for about ten
    #: rounds (a cycle's JVM CPU time fell from 12 s to 5 s over the
    #: first ten), and the first rounds after a cold one fall fastest:
    #: timing cycles 3-5 spread ten runs by 0.134, cycles 5-7 by 0.027.
    warm_rounds = 4
    #: Timed rounds an untraced run makes at least, whatever ``seconds``
    #: is: the medians then come from the same positions after the
    #: warm-up in every run, however fast the host is.
    min_rounds = 3

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, size: str, cpus: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.params = SIZES[size][self.name]
        self.attempted = 0
        self.failed = 0
        self.bad_output = 0
        self.rounds: list[float] = []  # wall time of each timed round
        self.ops: list[float] = []  # latency of each operation of those rounds
        self.out_bytes_per_in_byte = 0.0  # bytes written per byte of input
        self.detail: dict[str, float] = {}  # the workload's own figures
        self._build = self._exec = 0.0
        self._groups: list[str | None] = []
        self.warming = False

    def attempt(self, label: str, fn, check=None):
        """Run one operation. ``fn`` returns its result; ``check(result)``
        returns a list of problems. Returns the result, or None when the
        call raised or the output failed its check."""
        self.attempted += 1
        try:
            result = fn()
        except Exception:
            self.failed += 1
            print(f"[{self.name}] {label} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        problems = check(result) if check is not None else []
        if problems:
            self.failed += 1
            self.bad_output += 1
            print(f"[{self.name}] {label} failed its check: {problems}", file=sys.stderr)
            return None
        return result

    def more(self, t0: float, done: int, seconds: float) -> bool:
        """Whether to start another timed round."""
        floor = 1 if self.tracer.enabled else self.min_rounds
        return done < floor or time.perf_counter() - t0 < seconds

    def begin_round(self) -> None:
        self._build = self._exec = 0.0
        self._groups = []

    def group(self, label: str) -> None:
        """A job group of its own for the next operation (traced runs)."""
        self._groups.append(self.tracer.job_group(label))

    def timed(self, build: float = 0.0, exec_: float = 0.0) -> None:
        """Add an operation's time inside plan-building calls and inside
        actions to the round's."""
        self._build += build
        self._exec += exec_

    def end_round(self, wall: float, ops: list[float]) -> None:
        self.rounds.append(wall)
        self.ops += ops
        self.tracer.add("plans.build_s", self._build)
        self.tracer.add("plans.exec_s", self._exec)
        self.tracer.add_groups(self._groups)

    def warm_up(self, round_fn) -> None:
        """``warm_rounds`` untimed rounds; the first operation of the
        first is the session's cold first operation."""
        mark = self.tracer.mark()
        self.warming = True
        for _ in range(self.warm_rounds):
            round_fn()
        self.warming = False
        self.tracer.rewind(mark)
        if self.ops:
            self.tracer.add("session.first_op_s", self.ops[0])
        self.rounds.clear()
        self.ops.clear()
        log("warm-up round done")

    def close(self) -> None:
        pass


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- etl_load ----------------------------------------------------------------

class _PageServer:
    """Serves pre-rendered pages at ``/<table>?page=<i>`` from a loopback
    thread of this process, and counts the page requests."""

    def __init__(self, tables: dict[str, list[bytes]]):
        counter = {"n": 0}
        lock = threading.Lock()

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                url = urlparse(self.path)
                pages = tables.get(url.path.strip("/"))
                page = int(parse_qs(url.query).get("page", ["0"])[0])
                if pages is None or not 0 <= page < len(pages):
                    self.send_error(404)
                    return
                with lock:
                    counter["n"] += 1
                body = pages[page]
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.counter = counter
        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.base = f"http://127.0.0.1:{self.server.server_address[1]}"

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)


class EtlLoad(Workload):
    """Scrape two overlapping paginated HTML tables, clean, union and
    deduplicate them, geocode the ``No disponible`` rows, split the
    coordinates and bulk-load the result as parquet. A round is one
    load."""

    name = "etl_load"

    def setup(self) -> None:
        from etl_project_spark.sources.paginated import register_paginated_source

        p = self.params
        rows_a, rows_b = inputs.shop_rows(self.seed, p["rows"], p["overlap"])
        pages = {"a": inputs.render_pages(rows_a, p["page"]),
                 "b": inputs.render_pages(rows_b, p["page"])}
        self.source_rows = len(rows_a) + len(rows_b)
        self.html_bytes = sum(len(page) for page in pages["a"] + pages["b"])
        self.expected = checks.expected_load(pages["a"] + pages["b"])
        self.guarded = len({r[0] for r in rows_a + rows_b if r[3] == "no_button"})
        log("pages rendered")
        self.server = _PageServer(pages)
        self.sink = os.path.join(self.work, "sink")
        register_paginated_source(self.spark)
        self.sink_bytes: list[int] = []
        self.warm_up(self._round)
        self.sink_bytes.clear()

    def _frames(self, service):
        """The lazy pipeline: (raw scans, cleaned+deduplicated, enriched
        with typed coordinates)."""
        from pyspark.sql import functions as F

        from etl_project_spark.cleaning import nullify_sentinels, split_latlng
        from etl_project_spark.operators.enrich import enrich_with_service

        raw, clean = [], []
        for table in ("a", "b"):
            df = (
                self.spark.read.format("paginated_table")
                .option("base_url", f"{self.server.base}/{table}")
                .option("format", "html")
                .option("max_concurrency", self.cpus)
                .load()
            )
            raw.append(df)
            df = df.select(
                F.trim("Comercio").alias("shop"),
                F.trim("Dirección").alias("address"),
                F.trim("Localidad").alias("locality"),
                (F.trim("Localizar") == inputs.NO_BUTTON).alias("needs_geo"),
                F.col("Localizar").alias("packed"),
            )
            clean.append(nullify_sentinels(df, ["packed"]))
        scans = raw[0].unionByName(raw[1])
        deduped = clean[0].unionByName(clean[1]).dropDuplicates()
        enriched = enrich_with_service(
            deduped.withColumn(
                "query", F.concat_ws(", ", "address", "locality", F.lit("ARGENTINA"))
            ),
            "query", "geo", service, guard_col="needs_geo",
        )
        lat, lng = split_latlng(
            F.when(F.col("needs_geo"), F.col("geo")).otherwise(F.col("packed"))
        )
        out = enriched.select("shop", "address", "locality", lat.alias("lat"), lng.alias("lng"))
        return scans, deduped, out

    def _load(self) -> float:
        from etl_project_spark.operators.enrich import deterministic_geocoder
        from etl_project_spark.sources.sinks import write_parquet

        tr = self.tracer
        self.group("load")
        with tr.span("etl_load.load"):
            t0 = time.perf_counter()
            with tr.span("plans.build"):
                out = self._frames(deterministic_geocoder)[2]
            t1 = time.perf_counter()
            with tr.span("sinks.write_parquet"):
                write_parquet(out, self.sink)
            t2 = time.perf_counter()
        self.timed(build=t1 - t0, exec_=t2 - t1)
        return t2 - t0

    def _layers(self) -> None:
        """Traced runs only, after the round: materialise each prefix of
        the chain with a noop write; a layer's time is the difference
        between adjacent prefixes. Recorded in the trace file."""
        from etl_project_spark.operators.enrich import deterministic_geocoder
        from etl_project_spark.sources.sinks import write_parquet

        tr = self.tracer
        calls = self.spark.sparkContext.accumulator(0)

        def counting_geocoder(query, _calls=calls):
            _calls.add(1)
            return deterministic_geocoder(query)

        tr.job_group("layers")
        with tr.span("etl_load.layers"):
            pages0 = self.server.counter["n"]
            with tr.span("paginated.scan"):
                _noop(self._frames(counting_geocoder)[0])
            pages = self.server.counter["n"] - pages0
            with tr.span("cleaning.dedup"):
                _noop(self._frames(counting_geocoder)[1])
            calls0 = calls.value
            with tr.span("enrich"):
                _noop(self._frames(counting_geocoder)[2])
            n_calls = calls.value - calls0
            with tr.span("sinks.write"):
                write_parquet(self._frames(counting_geocoder)[2], self.sink)
        scan, dedup = tr.duration("paginated.scan"), tr.duration("cleaning.dedup")
        enrich, full = tr.duration("enrich"), tr.duration("sinks.write")
        files, size = checks.dir_bytes(self.sink)
        tr.add("paginated.scan_s", scan)
        tr.add("paginated.pages", pages)
        tr.add("cleaning.dedup_s", dedup - scan)
        tr.add("enrich.s", enrich - dedup)
        tr.add("enrich.service_calls", n_calls)
        tr.add("enrich.calls_per_guarded_row", n_calls / max(self.guarded, 1))
        tr.add("sinks.write_s", full - enrich)
        tr.add("sinks.files", files)
        tr.add("sinks.bytes", size)

    def _check(self, load_s: float) -> list[str]:
        return checks.check_sink(pq.read_table(self.sink).to_pandas(), self.expected)

    def _round(self) -> None:
        self.begin_round()
        load_s = self.attempt("load", self._load, self._check)
        if load_s is None:
            return
        self.end_round(load_s, [load_s])
        self.sink_bytes.append(checks.dir_bytes(self.sink)[1])
        log(f"load {len(self.rounds)}: {load_s:.2f}s")
        if self.tracer.enabled and not self.warming:
            self._layers()

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        for n in itertools.count():
            if not self.more(t0, n, seconds):
                break
            self._round()
        sink_bytes = median(self.sink_bytes)
        self.out_bytes_per_in_byte = sink_bytes / self.html_bytes
        self.detail = {
            "load_rows_per_s": self.source_rows / median(self.rounds),
            "sink_bytes_per_row": sink_bytes / len(self.expected),
        }

    def close(self) -> None:
        if hasattr(self, "server"):
            self.server.close()


# -- index_cycles ------------------------------------------------------------

class IndexCycles(Workload):
    """Maintenance of a served MinHash index: build over a history
    slice, then per round (cycle) append an arriving batch and probe it
    against the grown index; end with one delete and one compaction,
    each followed by a checked probe."""

    name = "index_cycles"
    PROBE = {"n_hashes": 64, "bands": 32, "shingle_k": 3, "threshold": 0.5,
             "use_token_ngrams": True, "prefilter": False}

    def setup(self) -> None:
        from etl_project_spark.sources.dedup_index import persist_minhash_index

        p = self.params
        docs = inputs.documents(self.seed, p["docs_per_source"])
        hist_sources = {f"src{i}" for i in range(p["history_sources"])}
        history = [d for d in docs if d[3] in hist_sources]
        self.batches = []  # (path, ids, planted)
        self.grams = {}
        self.text_bytes = {}
        for d in docs:
            self.grams[d[0]] = checks.word_grams(d[1])
            self.text_bytes[d[0]] = len(d[1].encode("utf-8"))
        os.makedirs(os.path.join(self.work, "docs"))
        for k, src in enumerate(range(p["history_sources"], inputs.N_SOURCES)):
            own = [d for d in docs if d[3] == f"src{src}"]
            clones, planted = inputs.plant_clones(
                self.seed, history, p["clones"], 1_000_000 + 1_000 * k, k
            )
            for c in clones:
                self.grams[c[0]] = checks.word_grams(c[1])
                self.text_bytes[c[0]] = len(c[1].encode("utf-8"))
            path = os.path.join(self.work, "docs", f"batch{k}.parquet")
            inputs.write_docs(path, own + clones)
            self.batches.append((path, {d[0] for d in own + clones}, planted))
        hist_path = os.path.join(self.work, "docs", "history.parquet")
        inputs.write_docs(hist_path, history)
        self.indexed_bytes = sum(self.text_bytes[d[0]] for d in history)

        t0 = time.perf_counter()
        with self.tracer.span("dedup_index.build"):
            self.idx = persist_minhash_index(
                self.spark, os.path.join(self.work, "docs"),
                n_hashes=self.PROBE["n_hashes"], shingle_k=self.PROBE["shingle_k"],
                use_token_ngrams=True, path=os.path.join(self.work, "index"),
                register=False, docs=self.spark.read.parquet(hist_path),
            )
        self.tracer.add("dedup_index.build_s", time.perf_counter() - t0)
        log("index built")
        self.appends: list[float] = []
        self.probes: list[float] = []
        self.next_batch = 0
        self.pairs: dict[int, set] = {}  # batch -> pairs of its checked probe
        self.warm_up(self._round)
        self.appends.clear()
        self.probes.clear()

    def _append(self, k: int) -> float:
        from etl_project_spark.sources.dedup_index import append_minhash_frames

        tr = self.tracer
        self.group(f"append{k}")
        with tr.span("dedup_index.append"):
            t0 = time.perf_counter()
            append_minhash_frames(self.idx, self.spark.read.parquet(self.batches[k][0]))
            dt = time.perf_counter() - t0
        self.timed(exec_=dt)
        tr.add("dedup_index.append_s", dt)
        if tr.enabled:
            tr.add("dedup_index.append_jobs", tr.group_stats(self._groups[-1])["jobs"])
        return dt

    def _probe(self, k: int) -> tuple[float, list[tuple]]:
        """Probe batch ``k`` against the index; (seconds from the index
        load to the released caches, pairs)."""
        from pyspark.sql import functions as F

        from etl_project_spark.operators.dedup import minhash_near_dup_pairs
        from etl_project_spark.session import release_persists
        from etl_project_spark.sources.dedup_index import load_minhash_index

        tr = self.tracer
        if tr.enabled:
            tr.add("dedup_index.files", sum(
                checks.dir_bytes(p)[0] for p in (self.idx.sig_path, self.idx.rows_path)))
        self.group(f"probe{k}")
        with tr.span("dedup.probe"):
            t0 = time.perf_counter()
            with tr.span("dedup_index.load"):
                signed = load_minhash_index(self.spark, self.idx)
            t1 = time.perf_counter()
            batch = self.spark.read.parquet(self.batches[k][0])
            pairs = minhash_near_dup_pairs(
                batch, "doc_id", "text", signed=signed,
                probe_ids=batch.select(F.col("doc_id").alias("_id")), **self.PROBE,
            )
            t2 = time.perf_counter()
            with tr.span("dedup.probe_exec"):
                rows = [(r["id_a"], r["id_b"], r["jaccard_sim"]) for r in pairs.collect()]
            t3 = time.perf_counter()
            with tr.span("session.release"):
                release_persists(blocking=True)
            t4 = time.perf_counter()
        self.timed(build=t2 - t0, exec_=t3 - t2)
        tr.add("session.release_s", t4 - t3)
        tr.add("dedup_index.load_s", t1 - t0)
        tr.add("dedup.probe_exec_s", t3 - t2)
        tr.add("dedup.probe_pairs", len(rows))
        if tr.enabled:
            stats = tr.group_stats(self._groups[-1])
            tr.add("dedup.probe_jobs", stats["jobs"])
            tr.add("dedup.probe_shuffle_bytes", stats["shuffle_write_bytes"])
        return t4 - t0, rows

    def _check_probe(self, k: int, deleted=frozenset(), same_as=None):
        _, ids, planted = self.batches[k]

        def check(result):
            problems = checks.check_pairs(result[1], self.grams, ids, planted, deleted)
            if same_as is not None and set(result[1]) != same_as:
                problems.append(
                    f"pair set changed: {len(result[1])} pairs, expected {len(same_as)}")
            return problems

        return check

    def _round(self) -> None:
        self.begin_round()
        k = self.next_batch
        self.next_batch += 1
        append_s = self.attempt(f"append {k}", lambda: self._append(k))
        if append_s is None:
            return
        self.indexed_bytes += sum(self.text_bytes[i] for i in self.batches[k][1])
        probe = self.attempt(f"probe {k}", lambda: self._probe(k), self._check_probe(k))
        if probe is None:
            return
        # The round's time is its two operations', without their checks.
        self.end_round(append_s + probe[0], [append_s, probe[0]])
        self.appends.append(append_s)
        self.probes.append(probe[0])
        self.pairs[k] = set(probe[1])
        log(f"cycle {k}: append {append_s:.2f}s, probe {probe[0]:.2f}s")

    def measure(self, seconds: float) -> None:
        from etl_project_spark.sources.dedup_index import (
            compact_minhash_index,
            delete_from_minhash_index,
        )

        t0 = time.perf_counter()
        for n in itertools.count():
            if not self.more(t0, n, seconds) or self.next_batch == len(self.batches):
                break
            self._round()
        _, index_bytes = checks.dir_bytes(os.path.join(self.work, "index"))
        self.tracer.add("dedup_index.bytes", index_bytes)
        self.out_bytes_per_in_byte = index_bytes / self.indexed_bytes
        self.detail = {
            "append_p50_s": median(self.appends),
            "probe_p50_s": median(self.probes),
            "index_bytes_per_doc_byte": self.out_bytes_per_in_byte,
        }

        # Delete part of the last batch (planted clones and plain docs),
        # then compact; each is followed by a probe of that batch.
        k = self.next_batch - 1
        _, ids, planted = self.batches[k]
        rng = random.Random(self.seed)
        clones = sorted(c for _, c in planted)
        plain = sorted(ids - set(clones))
        deleted = set(rng.sample(clones, max(1, len(clones) // 5))
                      + rng.sample(plain, max(1, len(plain) // 50)))
        survivors = None  # unknown when the cycle's own probe failed
        if k in self.pairs:
            survivors = {p for p in self.pairs[k] if p[0] not in deleted and p[1] not in deleted}
        tomb = self.spark.createDataFrame([(i,) for i in sorted(deleted)], "_id long")

        def timed(span, fn) -> float:
            with self.tracer.span(span):
                t = time.perf_counter()
                fn()
                dt = time.perf_counter() - t
            self.tracer.add(f"{span}_s", dt)
            log(f"{span} {dt:.2f}s")
            return dt

        if self.attempt("delete", lambda: timed(
                "dedup_index.delete", lambda: delete_from_minhash_index(self.spark, self.idx, tomb))
        ) is None:
            return
        after_delete = self.attempt("probe after delete", lambda: self._probe(k),
                                    self._check_probe(k, deleted, survivors))
        if self.attempt("compact", lambda: timed(
                "dedup_index.compact", lambda: compact_minhash_index(self.spark, self.idx))
        ) is None:
            return
        # Compaction must leave the pair set exactly as the delete left it.
        unchanged = set(after_delete[1]) if after_delete is not None else survivors
        self.attempt("probe after compact", lambda: self._probe(k),
                     self._check_probe(k, deleted, unchanged))


WORKLOADS = {w.name: w for w in (EtlLoad, IndexCycles)}
