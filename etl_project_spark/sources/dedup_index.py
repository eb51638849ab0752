"""Persisted near-dup serving indexes for the documents table — the
amortization layer the one-shot dedup queries lack (round-12 verdict
task #7).

``q_incremental_dedup_new_batch`` and the stream-static twins re-derive
the HISTORY side's fingerprints on every run: the gram inverted index
(``doc_gram_index``) and the SimHash postings (``history_simhash_index``)
are both pure functions of the history corpus, which in the incremental
topology changes far more slowly than the arriving batches. A real
100 TB serving workload pays the history scan ONCE and answers every
subsequent batch from the persisted index — the same asymmetric
economics as the PQ/IVF layer (:mod:`etl_project_spark.sources.ann_index`).

Mechanism mirrors ``ann_index``: ``persist_gram_index`` /
``persist_simhash_index`` build the frame once with THE shared builder
(so served and inflight rows are definitionally identical), write it to
parquet, and register the layout in a process-local map keyed by the
corpus dir + build parameters. Consumers (the batch incremental plan,
or a caller wiring up the streaming twins) ask ``*_index_for`` and fall
back to the inflight builder when nothing matches. Registration is an
explicit session opt-in, so the driver's correctness runs (no
registration) always exercise the self-contained path; parity between
the two paths is asserted by ``tests/test_dedup_index.py``.

A parameter mismatch means "no index", never "close enough": grams
hashed at a different ``n`` (or postings built for a different Hamming
budget / block split) are not an answer, they are a wrong answer.

In production both tables would be bucketed by their join key (``_g``;
``(_cmask, _key)``) so the per-batch probe join is shuffle-free on the
history side — the plumbing here keeps plain parquet (the bucketed
layout registry in :mod:`etl_project_spark.sources.bucketed` shows the
bucketed variant of the same pattern).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

#: The history predicate of the incremental topology: everything that
#: is not the arriving batch. One definition shared by the persist
#: builders and the batch plan so they can never disagree about what
#: "history" means.
BATCH_SOURCE = "src19"


class GramIndex:
    """Handle for one persisted gram inverted index.

    ``owns_path``: True when the module allocated the temp directory
    itself (caller passed ``path=None``) — such directories are deleted
    when the registry entry is replaced or cleared, so repeat rebuilds
    in a long-lived session cannot accumulate orphaned parquet dirs.
    Caller-supplied paths are never deleted (the caller owns them).
    """

    __slots__ = ("path", "n", "owns_path")

    def __init__(self, path: str, n: int, owns_path: bool = False) -> None:
        self.path = path
        self.n = n
        self.owns_path = owns_path


class SimHashIndex:
    """Handle for one persisted SimHash posting index (same
    ``owns_path`` cleanup contract as :class:`GramIndex`)."""

    __slots__ = ("path", "max_hamming", "eq_blocks", "owns_path")

    def __init__(
        self,
        path: str,
        max_hamming: int,
        eq_blocks: int,
        owns_path: bool = False,
    ) -> None:
        self.path = path
        self.max_hamming = max_hamming
        self.eq_blocks = eq_blocks
        self.owns_path = owns_path


class MinHashIndex:
    """Handle for one persisted MinHash signing pass: the signature
    frame (``_id, _h0.._h{n-1}``) plus the DISTINCT hashed-gram
    inverted index (``_id, _gram``) the exact-Jaccard verify needs —
    both written by the shared :func:`minhash_sig_rows` builder over
    the FULL corpus (the near-dup sweep topology, unlike the
    batch/history split above). Same ``owns_path`` cleanup contract as
    :class:`GramIndex`. ``bands`` is deliberately NOT a key parameter:
    band hashes derive from the signature downstream, so one signing
    serves any banding.

    Round-18 layout change (VERDICT r17 #4): the gram rows are written
    as a ``_id``-BUCKETED external table (``rows_table``/``n_buckets``)
    instead of plain parquet. Every served consumer keys on ``_id``
    (the signature derivation's groupBy, the verify stage's
    dropDuplicates and sizes aggregate), so the bucketed scan's
    reported hash(_id) partitioning satisfies them all with ZERO
    exchanges — the shuffle is paid once at index-write time and
    amortized over every probe, which is the 100 TB economics the
    plain layout was missing (at sf0.1 the columnar re-reads were
    cheap; at scale each re-read was also a full re-cluster).
    ``rows_table=None`` (e.g. a handle constructed directly in tests)
    means plain parquet and every consumer degrades gracefully —
    bucketing is pure layout, never semantics.
    """

    __slots__ = (
        "sig_path",
        "rows_path",
        "n_hashes",
        "shingle_k",
        "use_token_ngrams",
        "owns_path",
        "rows_table",
        "n_buckets",
    )

    def __init__(
        self,
        sig_path: str,
        rows_path: str,
        n_hashes: int,
        shingle_k: int,
        use_token_ngrams: bool,
        owns_path: bool = False,
        rows_table: str | None = None,
        n_buckets: int = 0,
    ) -> None:
        self.sig_path = sig_path
        self.rows_path = rows_path
        self.n_hashes = n_hashes
        self.shingle_k = shingle_k
        self.use_token_ngrams = use_token_ngrams
        self.owns_path = owns_path
        self.rows_table = rows_table
        self.n_buckets = n_buckets


class NkeyIndex:
    """Handle for one persisted canonical-key (``nkey``) OWNER-COUNT
    LEDGER of the history corpus — the static side of the incremental
    curation pipeline's dedup stage. Same ``owns_path`` contract as
    :class:`GramIndex`. No build parameters: the canonicalization is
    THE shared ``canonical_nkey`` contract, so there is nothing to
    mismatch.

    Round-17 format change (the delete path forced it): the parquet
    stores ``(nkey, _n)`` signed owner-count DELTAS, not the bare
    distinct set. The live set is the FOLD — ``GROUP BY nkey HAVING
    SUM(_n) > 0`` — which :func:`load_nkey_index` applies, so every
    consumer still sees exactly ``history_nkey_index``'s one-column
    distinct frame. The bare set was unfixably delete-blind: an nkey
    may be owned by several documents, and retracting one of them must
    remove the key only when its LAST owner goes — which the set
    cannot know without re-canonicalizing history, the O(corpus) text
    scan maintenance exists to avoid. With counts, append = +owners of
    the batch (O(batch), no read of the index at all — the r16
    anti-join is gone), delete = −owners of the tombstones (O(tomb)),
    and the fold resolves last-owner exactly. This is the
    log-structured merge-on-read ledger (Delta/Iceberg deletion
    vectors play the same role); :func:`compact_nkey_index` is the
    periodic fold-in that keeps the probe-side aggregate O(live set).
    Counts are correct under the modeled exactly-once single-writer
    seam; a replayed epoch would double-count owners (set membership
    survives, delete accuracy does not) — the same contract the
    MinHash appends document."""

    __slots__ = ("path", "owns_path", "table", "n_buckets")

    def __init__(
        self,
        path: str,
        owns_path: bool = False,
        table: str | None = None,
        n_buckets: int = 0,
    ) -> None:
        self.path = path
        self.owns_path = owns_path
        # nkey-BUCKETED external table (round 18, same rationale as
        # MinHashIndex.rows_table): the live-set fold is a groupBy on
        # nkey, so the bucketed scan makes it shuffle-free — exactly
        # the layout the load_nkey_index docstring names as the
        # production shape. None = plain parquet, graceful fallback.
        self.table = table
        self.n_buckets = n_buckets


def _index_buckets(spark: SparkSession) -> int:
    """Bucket count for index-table writes. Locally this is the
    session's default parallelism (one bucket per core keeps the probe
    scan fully parallel); at production scale it is sized once per
    index family via ``SPARK_GRAFT_INDEX_BUCKETS`` — a multiple of the
    cluster's target parallelism at the data's FULL scale, per the
    bucketed-layout rules in :mod:`etl_project_spark.sources.bucketed`.
    The count only affects layout, never results."""
    return int(
        os.environ.get(
            "SPARK_GRAFT_INDEX_BUCKETS", spark.sparkContext.defaultParallelism
        )
    )


def _index_table_name(kind: str, path: str) -> str:
    """Catalog name for an index table: per-(pid, path-digest) so two
    processes sharing a warehouse can never cross-wire each other's
    builds (the query_scoped_index_dir race note, catalog edition) and
    repeat builds in one session resolve to the same name (the
    overwrite path drops + recreates it)."""
    import hashlib

    tag = hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:8]
    return f"idx_{kind}_{os.getpid()}_{tag}"


def _write_bucketed_index(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    n_buckets: int,
    *,
    mode: str = "overwrite",
    align: bool = False,
) -> None:
    """Write an index frame as an EXTERNAL parquet table bucketed on
    ``key`` at ``path`` — the pay-once shuffle that makes every later
    ``key``-clustered consumer (groupBy/dropDuplicates/equi-join on
    ``key``) exchange-free (guide §2.4; the sources/bucketed.py
    pattern, pointed at an explicit location so the per-(pid, corpus)
    temp-dir isolation contract is unchanged).

    No ``sortBy``: every consumer of these frames is a hash aggregate
    or hash join on ``key`` — nothing needs ordered runs, and the
    per-task sort was measurable build cost at bench scale for zero
    read benefit. ``align=True`` adds a ``repartition(n_buckets,
    key)`` so the write lands one file per bucket — the maintenance
    paths (delete rewrite, compaction) use it because their inputs
    arrive arbitrarily partitioned; the build/append hot paths skip it
    because their input is already hash(key)-clustered by the signing
    pipeline (the bucketed write is CORRECT under any input
    partitioning — misalignment only costs extra files per bucket,
    which compaction folds). ``mode="append"`` requires the table to
    exist with the same spec (the caller passes the handle's own
    ``n_buckets``, so it cannot drift)."""
    spark = df.sparkSession
    if align:
        df = df.repartition(n_buckets, key)
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, key)
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _register_bucketed_index(
    spark: SparkSession, table: str, path: str, schema_ddl: str, key: str,
    n_buckets: int,
) -> None:
    """(Re)point ``table`` at existing bucketed parquet files under
    ``path`` — the metadata half of a compaction's directory swap."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({key}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def query_scoped_index_dir(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """Deterministic per-(context, corpus) directory for a caller-scoped
    index build inside a registry query.

    Rooted in the context's own directory (``session.context_dir``),
    so no build outlives its session. Per context, so two sessions in
    different processes can never overwrite part-files under each
    other's in-flight probe scan (the IVF race note), and keyed by a
    short hash of the ABSOLUTE corpus path, not its basename (ADVICE
    r15: two corpora named ``sf1`` under different parents collided
    within one process — exactly the overwrite race the unique dir
    exists to prevent, just one level up). The basename stays in the
    path for human-readable listings.
    """
    import hashlib

    from etl_project_spark.session import context_dir

    ap = os.path.abspath(sf_dir)
    tag = hashlib.sha1(ap.encode()).hexdigest()[:8]
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(context_dir(spark, f"etl_project_spark_{kind}"), f"{base}_{tag}")


_GRAM: dict[str, GramIndex] = {}
_SIMHASH: dict[str, SimHashIndex] = {}
_MINHASH: dict[str, MinHashIndex] = {}
_NKEY: dict[str, NkeyIndex] = {}


def _drop(idx) -> None:
    """Delete a module-owned index directory (no-op for caller paths)."""
    if idx is not None and idx.owns_path:
        path = idx.sig_path if isinstance(idx, MinHashIndex) else idx.path
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def clear_dedup_indexes() -> None:
    for idx in (
        *_GRAM.values(),
        *_SIMHASH.values(),
        *_MINHASH.values(),
        *_NKEY.values(),
    ):
        _drop(idx)
    _GRAM.clear()
    _SIMHASH.clear()
    _MINHASH.clear()
    _NKEY.clear()


def _history_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    return read_table(spark, sf_dir, "documents").filter(
        F.col("source") != BATCH_SOURCE
    )


def persist_gram_index(
    spark: SparkSession, sf_dir: str, *, n: int = 3, path: str | None = None
) -> GramIndex:
    """Build the history gram inverted index ``(_hid, _szh, _g)`` once
    (``history_gram_index``'s codegen row form over every non-batch
    source), write it to parquet, and register it for ``sf_dir``."""
    from etl_project_spark.streaming.dedup import history_gram_index

    owns = path is None
    if path is None:
        path = tempfile.mkdtemp(prefix="gram_index_")
    target = os.path.join(path, f"grams_n{n}")
    history_gram_index(_history_docs(spark, sf_dir), n=n).write.mode(
        "overwrite"
    ).parquet(target)
    idx = GramIndex(target, n, owns_path=owns)
    key = os.path.abspath(sf_dir)
    _drop(_GRAM.get(key))  # rebuild: reap the replaced module-owned dir
    _GRAM[key] = idx
    return idx


def gram_index_for(sf_dir: str, *, n: int) -> GramIndex | None:
    idx = _GRAM.get(os.path.abspath(sf_dir))
    if idx is not None and idx.n == n:
        return idx
    return None


def load_gram_index(spark: SparkSession, idx: GramIndex) -> DataFrame:
    return spark.read.parquet(idx.path)


def persist_simhash_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_hamming: int = 3,
    eq_blocks: int = 2,
    path: str | None = None,
    register: bool = True,
    docs: DataFrame | None = None,
) -> SimHashIndex:
    """Build the history SimHash posting index ``(_hid, _hsim, _cmask,
    _key)`` once (the shared ``history_simhash_index`` layout), write it
    to parquet, and register it for ``sf_dir``.

    ``docs`` overrides the indexed corpus (default: ``_history_docs``);
    a partial corpus should pass ``register=False`` — see
    :func:`persist_minhash_index` for the contract. Partial builds are
    grown with :func:`append_simhash_index`."""
    from etl_project_spark.streaming.dedup import history_simhash_index

    owns = path is None
    if path is None:
        path = tempfile.mkdtemp(prefix="simhash_index_")
    target = os.path.join(path, f"postings_h{max_hamming}b{eq_blocks}")
    history_simhash_index(
        _history_docs(spark, sf_dir) if docs is None else docs,
        max_hamming=max_hamming,
        eq_blocks=eq_blocks,
    ).write.mode("overwrite").parquet(target)
    idx = SimHashIndex(target, max_hamming, eq_blocks, owns_path=owns)
    if register:  # see persist_minhash_index: False = caller-scoped build
        key = os.path.abspath(sf_dir)
        _drop(_SIMHASH.get(key))  # rebuild: reap the replaced module-owned dir
        _SIMHASH[key] = idx
    return idx


def append_simhash_frames(idx: SimHashIndex, docs: DataFrame) -> None:
    """Incremental maintenance for the SimHash posting index (round-16
    verdict #8): fingerprint + posting-explode ONLY the arriving docs
    with the index's own block layout (the shared
    ``history_simhash_index`` builder) and append the rows. The same
    per-doc purity argument as the MinHash appends: every posting row
    carries its owner's ``_hid`` and is a pure function of that one
    document's text and the (max_hamming, eq_blocks) layout, so a
    history-built index grown by batch appends is row-identical to a
    whole-corpus build — O(batch) per cycle, never an O(corpus)
    re-fingerprint. Single-writer exactly-once append seam, as ever."""
    from etl_project_spark.streaming.dedup import history_simhash_index

    history_simhash_index(
        docs, max_hamming=idx.max_hamming, eq_blocks=idx.eq_blocks
    ).write.mode("append").parquet(idx.path)


def append_simhash_index(
    spark: SparkSession,
    sf_dir: str,
    idx: SimHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> SimHashIndex:
    """Fold one arriving batch (``source == batch_source``) into the
    persisted posting index via :func:`append_simhash_frames` — the
    batch's one documents scan carries the pushed source filter;
    history text is never re-read (asserted in
    tests/test_dedup_index.py)."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    append_simhash_frames(
        idx,
        read_table(spark, sf_dir, "documents").filter(
            F.col("source") == batch_source
        ),
    )
    return idx


def simhash_index_for(
    sf_dir: str, *, max_hamming: int, eq_blocks: int
) -> SimHashIndex | None:
    idx = _SIMHASH.get(os.path.abspath(sf_dir))
    if (
        idx is not None
        and idx.max_hamming == max_hamming
        and idx.eq_blocks == eq_blocks
    ):
        return idx
    return None


def load_simhash_index(spark: SparkSession, idx: SimHashIndex) -> DataFrame:
    return spark.read.parquet(idx.path)


def persist_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_hashes: int = 64,
    shingle_k: int = 3,
    use_token_ngrams: bool = True,
    path: str | None = None,
    register: bool = True,
    docs: DataFrame | None = None,
) -> MinHashIndex:
    """Pay the MinHash signing pass once for the FULL documents corpus
    at ``sf_dir``: write the signature frame and the distinct
    hashed-gram rows (built by the SAME ``minhash_sig_rows`` the
    inflight plan uses) to parquet and register them. Repeat near-dup
    sweeps then skip the shingle explode + 64-way min aggregation —
    the dominant cost of ``q_minhash_near_dup_pairs`` (the #1 sf10
    in-sweep cost, 394–454 s, re-signed on every run before this).

    ``docs`` overrides the signed corpus (default: the full documents
    table at ``sf_dir``) — the incremental topology builds the index
    over HISTORY only (``_history_docs``) and then grows it with
    :func:`append_minhash_index`. A caller-supplied ``docs`` that is
    not the full corpus should pass ``register=False``: the registry
    key is the corpus dir, and serving consumers assume a registered
    index covers it entirely."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators.dedup import minhash_sig_rows

    owns = path is None
    if path is None:
        path = tempfile.mkdtemp(prefix="minhash_index_")
    tag = f"nh{n_hashes}_k{shingle_k}_{'tok' if use_token_ngrams else 'char'}"
    sig_path = os.path.join(path, f"sig_{tag}")
    rows_path = os.path.join(path, f"grams_{tag}")
    _, rows = minhash_sig_rows(
        read_table(spark, sf_dir, "documents") if docs is None else docs,
        "doc_id",
        "text",
        n_hashes=n_hashes,
        shingle_k=shingle_k,
        use_token_ngrams=use_token_ngrams,
    )
    # Distinct here is idempotent for the verify stage (it re-applies
    # dropDuplicates) and shrinks the persisted index. Written
    # _id-BUCKETED (r18, VERDICT r17 #4): the one shuffle the bucketed
    # write pays replaces a re-cluster per consumer per probe — the
    # sig derivation below and every served verify's dropDuplicates /
    # sizes agg read the bucketed scan's hash(_id) layout
    # exchange-free.
    nb = _index_buckets(spark)
    rows_table = _index_table_name("mhrows", rows_path)
    _write_bucketed_index(
        rows.dropDuplicates(["_id", "_gram"]), rows_table, rows_path, "_id", nb
    )
    # Derive the signature FROM the written gram table instead of
    # re-running the text scan + shingle explode a second time (the
    # append path's minhash_frames_for already does this): min is
    # duplicate-insensitive, so sig over the distinct rows is
    # bit-identical to sig over raw rows (pinned in
    # tests/test_dedup_index.py), and the agg input is the narrow
    # (_id, _gram int64) bucketed parquet, not the documents text —
    # with the bucketed layout the groupBy(_id) now runs with zero
    # exchanges.
    from etl_project_spark.operators.dedup import minhash_sig_from_rows

    minhash_sig_from_rows(
        _table_frame(spark, rows_table, rows_path), n_hashes=n_hashes
    ).write.mode("overwrite").parquet(sig_path)
    idx = MinHashIndex(
        sig_path, rows_path, n_hashes, shingle_k, use_token_ngrams,
        owns_path=owns, rows_table=rows_table, n_buckets=nb,
    )
    # register=False builds a caller-scoped index WITHOUT flipping the
    # process-local serving switch: the indexed registry query uses it
    # so running it can never silently convert the inflight query's
    # next run (same session, e.g. mid-sweep) into a served run —
    # that would corrupt the inflight timing series, not its answer.
    if register:
        key = os.path.abspath(sf_dir)
        _drop(_MINHASH.get(key))  # rebuild: reap the replaced module-owned dir
        _MINHASH[key] = idx
    return idx


def minhash_index_for(
    sf_dir: str, *, n_hashes: int, shingle_k: int, use_token_ngrams: bool
) -> MinHashIndex | None:
    idx = _MINHASH.get(os.path.abspath(sf_dir))
    if (
        idx is not None
        and idx.n_hashes == n_hashes
        and idx.shingle_k == shingle_k
        and idx.use_token_ngrams == use_token_ngrams
    ):
        return idx
    return None


def load_minhash_index(
    spark: SparkSession, idx: MinHashIndex
) -> tuple[DataFrame, DataFrame]:
    """(sig, distinct gram rows) — the ``signed=`` input of
    :func:`minhash_near_dup_pairs`. The rows side resolves through the
    bucketed table when one exists IN THIS SESSION'S CATALOG, so every
    _id-keyed consumer is exchange-free; otherwise (direct-constructed
    handles, a different session) it falls back to the plain parquet
    read — identical rows, just re-clustered per consumer."""
    return spark.read.parquet(idx.sig_path), _rows_frame(spark, idx)


def _rows_frame(spark: SparkSession, idx: MinHashIndex) -> DataFrame:
    return _table_frame(spark, idx.rows_table, idx.rows_path)


def _table_frame(spark: SparkSession, table: str | None, path: str) -> DataFrame:
    """Resolve an index frame through its bucketed table when this
    session's catalog knows it, else plain parquet. The refresh is
    load-bearing: appends/deletes/compactions mutate the table's FILES
    (possibly from a foreachBatch-cloned session or via directory
    swaps), and a session that scanned the table earlier holds a
    cached file listing that would silently serve the pre-mutation
    snapshot (measured: a streamed append was invisible to the
    builder session until refreshed). Cheap local re-list here; a
    manifest table format does this bookkeeping transactionally at
    scale."""
    if table is not None and spark.catalog.tableExists(table):
        spark.catalog.refreshTable(table)
        return spark.table(table)
    return spark.read.parquet(path)


def batch_minhash_frames(
    spark: SparkSession,
    sf_dir: str,
    idx: MinHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> tuple[DataFrame, DataFrame]:
    """The signature + distinct hashed-gram frames of ONLY the arriving
    batch (``source == batch_source``), signed with the index's own
    parameters by the shared :func:`minhash_sig_rows` builder — the
    unit of work an index APPEND pays. Factored out of
    :func:`append_minhash_index` so tests can pin the
    no-history-rescan property on the exact frames the append writes:
    the only documents scan in either plan carries the pushed
    ``source = batch_source`` filter.

    MinHash signatures are per-document pure functions of the text, so
    batch signatures computed in isolation are bit-identical to the
    same documents' rows in a whole-corpus signing — appending them to
    a history-built index yields EXACTLY the full-corpus index
    (doc_id is unique corpus-wide, so the signature frame stays one
    row per doc and the per-doc distinct gram set is unchanged).
    """
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    batch = read_table(spark, sf_dir, "documents").filter(
        F.col("source") == batch_source
    )
    return minhash_frames_for(batch, idx)


def minhash_frames_for(
    docs: DataFrame, idx: MinHashIndex
) -> tuple[DataFrame, DataFrame]:
    """(signature, distinct gram rows) for an ARBITRARY docs frame,
    signed with the index's own parameters. The signature is derived
    FROM the distinct rows (min is duplicate-insensitive, so values
    are unchanged): when an append persists ``rows``, the sig write
    then reuses that cache instead of re-running the shingle explode."""
    from etl_project_spark.operators.dedup import (
        minhash_sig_from_rows,
        minhash_sig_rows,
    )

    _, rows = minhash_sig_rows(
        docs,
        "doc_id",
        "text",
        n_hashes=idx.n_hashes,
        shingle_k=idx.shingle_k,
        use_token_ngrams=idx.use_token_ngrams,
    )
    rows = rows.dropDuplicates(["_id", "_gram"])
    return minhash_sig_from_rows(rows, n_hashes=idx.n_hashes), rows


def append_minhash_frames(idx: MinHashIndex, docs: DataFrame) -> None:
    """The shared append WRITE body: sign ``docs`` with the index's
    parameters and append both frames into the persisted parquet. Both
    the batch maintenance path (:func:`append_minhash_index`) and the
    streaming twin (``streaming.dedup.stream_minhash_index_append``'s
    per-epoch fold) call exactly this, so the two cannot drift.

    The two appends are separate non-transactional parquet writes; the
    ORDER is part of the contract (ADVICE r16): gram rows first,
    signatures LAST. A crash between them leaves sig-less docs — the
    benign failure state: a doc with grams but no signature is never
    banded, so it is simply invisible to every probe (exactly its
    pre-append visibility); the reverse order would band docs whose
    verify-side grams are missing. A retry that re-appends the epoch
    leaves duplicate gram rows, which every consumer collapses
    (``dropDuplicates(["_id", "_gram"])`` is re-applied at probe time)
    — though on-disk frame equality with a rebuild is then lost until
    :func:`compact_minhash_index` folds the dir. On a real object
    store both writes land behind one manifest commit (Delta/Iceberg);
    single-writer exactly-once append is the modeled seam here.

    The signature job reads back ONLY the part-files the rows append
    just wrote (dir-listing delta — the local-FS stand-in for the
    manifest's added-files list) instead of caching the batch rows
    across both writes: the r16 persist form paid the MEMORY_AND_DISK
    materialization plus an agg over the cached shuffle partitioning,
    while the read-back agg runs off the freshly-written columnar
    parquet (measured 1.27 s → 0.84 s warm per append at sf0.1, with
    zero cache residency during the sig write). The one-text-scan
    property is unchanged — the batch is shingled exactly once, by the
    rows write; the sig job scans narrow ``(_id, _gram)`` parquet."""
    from etl_project_spark.operators.dedup import minhash_sig_from_rows

    sig, rows = minhash_frames_for(docs, idx)
    spark = docs.sparkSession
    before = _data_files(idx.rows_path)
    if idx.rows_table is not None and spark.catalog.tableExists(idx.rows_table):
        # Bucketed index (r18): the batch's rows append INTO the same
        # (_id, n_buckets) spec, so the grown table keeps the
        # exchange-free probe property; each append adds one file per
        # bucket (compact_minhash_index folds them).
        _write_bucketed_index(
            rows, idx.rows_table, idx.rows_path, "_id", idx.n_buckets,
            mode="append",
        )
    else:
        rows.write.mode("append").parquet(idx.rows_path)
    new = sorted(_data_files(idx.rows_path) - before)
    if new:
        sig = minhash_sig_from_rows(
            spark.read.parquet(*new), n_hashes=idx.n_hashes
        )
    # else: empty-batch append wrote no data files — the in-memory sig
    # (itself empty) is written as-is, trivially cheap.
    sig.write.mode("append").parquet(idx.sig_path)


def _data_files(path: str) -> set[str]:
    """Parquet data part-files directly under ``path`` (local FS; the
    index dirs are always local here — an object-store deployment would
    take this list from the manifest commit instead)."""
    try:
        return {
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }
    except FileNotFoundError:
        return set()


def append_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    idx: MinHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> MinHashIndex:
    """Incremental index MAINTENANCE (round-15 verdict #1 — the last
    missing 100 TB operator class): sign ONLY the arriving batch and
    APPEND its signature + distinct-gram parquet into the persisted
    index, instead of re-signing the whole corpus.

    This is the economics a real incremental pipeline runs on: history
    is signed once (``persist_minhash_index`` over ``_history_docs``),
    and each arriving batch pays O(batch) signing + an append write —
    never an O(corpus) rebuild. The grown index is bit-identical to a
    full rebuild (see :func:`batch_minhash_frames` for why), so every
    downstream consumer — ``signed=`` probes, the banding + verify
    query, the served sweeps — is oblivious to how the index was
    grown. Parquet ``append`` adds new part-files without touching
    existing ones, so a concurrent reader of the pre-append snapshot
    keeps a consistent (history-only) view; on a real object store the
    append would land behind a manifest commit (Delta/Iceberg style)
    for atomicity — single-writer append is the modeled contract here,
    matching the one-ingest-pipeline topology.

    The batch's gram rows are persisted for the duration of the two
    writes: ``sig`` is an aggregation OVER ``rows``, so writing both
    frames unpersisted would run the batch shingle explode twice. The
    cache is released directly (not via the session-scoped tracker —
    both writes are actions that complete inside this call, and the
    tracker's ``release_persists`` would clobber caches a CALLER's
    pending action still needs).

    Returns the same (mutated-on-disk) handle for chaining.
    """
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    append_minhash_frames(
        idx,
        read_table(spark, sf_dir, "documents").filter(
            F.col("source") == batch_source
        ),
    )
    return idx


def _affected_index_files(
    spark: SparkSession, path: str, tombstone_ids: DataFrame
) -> list[str]:
    """The part-files of a per-doc index frame that contain at least
    one tombstoned ``_id`` — the unit of a file-granularity delete.

    The scan is column-pruned to ``_id`` + the virtual file name, so
    finding the affected files costs one cheap id-column pass; the
    collect is bounded metadata (distinct file PATHS, not rows — at
    most the directory's part-file count). Because appends land each
    batch in its own part-files, a delete targeting a recent batch
    touches only that batch's files: the rewrite is O(affected files),
    not O(index) — the hand-rolled form of Delta/Iceberg's
    file-level delete planning.
    """
    return [r["_file"] for r in _affected_files_frame(spark, path, tombstone_ids).collect()]


def _affected_files_frame(
    spark: SparkSession, path: str, tombstone_ids: DataFrame
) -> DataFrame:
    """The distinct-file-paths frame behind
    :func:`_affected_index_files` — factored out so tests can assert
    the executed plan (column-pruned to ``_id``; no text anywhere)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .select("_id", F.input_file_name().alias("_file"))
        .join(tombstone_ids.select("_id"), "_id", "left_semi")
        .select("_file")
        .distinct()
    )


def _rewrite_files_minus(
    spark: SparkSession,
    path: str,
    files: list[str],
    tombstone_ids: DataFrame,
    bucket_spec: tuple[str, int] | None = None,
) -> None:
    """Rewrite ``files`` (part-files of the parquet dir ``path``)
    without the tombstoned ``_id`` rows: survivors are staged to a
    sibling dir, moved in, and only then are the originals removed.

    That order makes the crash window's failure state benign
    DUPLICATES (survivor rows present twice until the originals go),
    which every consumer collapses (``dropDuplicates`` on gram rows;
    banded/candidate ``distinct()`` over signature rows) — never
    missing rows, which the delete-first order would risk. Same
    single-writer exactly-once seam as the appends; on a real object
    store this is one atomic manifest swap (Delta/Iceberg
    rewrite-and-commit).

    ``bucket_spec=(key, n_buckets)`` marks ``path`` as a bucketed
    table's location (r18): the staged survivors are then written with
    the SAME bucket spec, so the moved-in part-files carry valid
    bucket-id suffixes and the table's exchange-free scan property
    survives the delete (a plain-parquet staging write would strip the
    bucket mapping and silently corrupt every clustered read).
    Survivors re-hash into exactly their original buckets (same
    murmur3, same count), so merging them back is layout-exact."""
    import urllib.parse
    import urllib.request

    staging = path.rstrip("/") + ".staging_delete"
    shutil.rmtree(staging, ignore_errors=True)
    survivors = spark.read.parquet(*files).join(
        tombstone_ids.select("_id"), "_id", "left_anti"
    )
    if bucket_spec is not None:
        key, nb = bucket_spec
        stg_table = _index_table_name("stgdel", staging)
        _write_bucketed_index(survivors, stg_table, staging, key, nb, align=True)
        spark.sql(f"DROP TABLE IF EXISTS {stg_table}")
    else:
        survivors.write.mode("overwrite").parquet(staging)
    moved = []
    for name in os.listdir(staging):
        if name.startswith("part-"):
            # staged part names carry Spark's per-job UUID, so moving
            # them in cannot collide with existing part-files
            dst = os.path.join(path, name)
            shutil.move(os.path.join(staging, name), dst)
            moved.append(dst)
    for f in files:
        local = urllib.request.url2pathname(urllib.parse.urlparse(f).path)
        try:
            os.remove(local)
        except FileNotFoundError:
            pass
    shutil.rmtree(staging, ignore_errors=True)


def delete_from_minhash_index(
    spark: SparkSession, idx: MinHashIndex, tombstone_ids: DataFrame
) -> MinHashIndex:
    """Index DELETE — the retraction half of incremental maintenance
    (round-16 verdict #1): remove tombstoned documents (takedowns,
    opt-outs, licensing reversals) from the persisted signature +
    gram parquet WITHOUT re-signing anything.

    ``tombstone_ids`` is a one-column ``_id`` frame. Both MinHash
    frames are strictly per-doc (signatures and distinct grams carry
    their owner's ``_id``), so retraction is a pure anti-join — no
    last-owner subtlety, unlike the nkey set
    (:func:`delete_from_nkey_index`). Mechanism: find the part-files
    that contain a tombstoned row (one column-pruned id pass), rewrite
    ONLY those files minus the tombstones, leave every other file
    untouched. Nothing in the job reads document text — not history's,
    not even the tombstoned docs' (asserted on the executed plans in
    tests/test_dedup_index.py); cost is O(affected files), and since
    appends batch into their own part-files, deleting a recent batch
    rewrites just that batch's files.

    The deleted docs' rows vanish from both frames, so the shrunk
    index is frame-identical to a rebuild over corpus-minus-tombstones
    (signatures are per-doc pure functions of text; dropping a doc's
    rows cannot perturb any other doc's). Every ``signed=`` consumer
    is oblivious to how the index shrank.
    """
    for path in (idx.sig_path, idx.rows_path):
        affected = _affected_index_files(spark, path, tombstone_ids)
        if affected:
            spec = (
                ("_id", idx.n_buckets)
                if path == idx.rows_path and idx.rows_table is not None
                else None
            )
            _rewrite_files_minus(
                spark, path, affected, tombstone_ids, bucket_spec=spec
            )
    return idx


def compact_minhash_index(
    spark: SparkSession, idx: MinHashIndex, *, target_files: int = 8
) -> MinHashIndex:
    """Fold K append/delete cycles' accumulated part-files into
    ``target_files`` per frame (round-16 verdict #2): every
    ``mode("append")`` adds files, so after K daily cycles a probe
    scan opens K× the files (and any crash-retry duplicates persist on
    disk); read amplification grows without bound until someone
    rewrites. This is that rewrite: each frame is read, gram rows are
    re-distincted (folding benign duplicate rows from retried
    appends/deletes), coalesced, staged, and atomically swapped in
    (``os.rename`` of the directory — the manifest-commit seam the
    append docstrings name; on an object store this is the
    Delta/Iceberg OPTIMIZE + snapshot swap, since object stores have
    no atomic rename).

    Compacted ≡ grown frame equality is pinned in
    tests/test_dedup_index.py; degradation-vs-cycles and the recovery
    are measured in BASELINE.md (tools/index_compact_ab.py).
    """
    for path, dedup_cols in (
        (idx.sig_path, ["_id"]),
        (idx.rows_path, ["_id", "_gram"]),
    ):
        staging = path.rstrip("/") + ".staging_compact"
        old = path.rstrip("/") + ".pre_compact"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        folded = spark.read.parquet(path).dropDuplicates(dedup_cols)
        bucketed = path == idx.rows_path and idx.rows_table is not None
        if bucketed:
            # Re-bucket at target_files buckets (one file per bucket):
            # the fold honors the file-count goal AND keeps the
            # exchange-free probe layout. A maintenance window sizes
            # target_files to its scale's parallelism; the count only
            # affects layout.
            stg_table = _index_table_name("stgcmp", staging)
            _write_bucketed_index(
                folded, stg_table, staging, "_id", target_files, align=True
            )
            spark.sql(f"DROP TABLE IF EXISTS {stg_table}")
        else:
            folded.coalesce(target_files).write.mode("overwrite").parquet(staging)
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old, ignore_errors=True)
        if bucketed:
            _register_bucketed_index(
                spark, idx.rows_table, path,
                "_id BIGINT, _gram BIGINT", "_id", target_files,
            )
            idx.n_buckets = target_files
    return idx


def persist_nkey_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    path: str | None = None,
    register: bool = True,
    docs: DataFrame | None = None,
) -> NkeyIndex:
    """Write the history corpus's canonical-key owner-count ledger
    (``(nkey, _n)`` — see :class:`NkeyIndex` for the format) and
    register it for ``sf_dir`` — the static side of the incremental
    curation dedup. The canonicalization is the shared
    ``canonical_nkey`` expression, so the folded set is definitionally
    ``history_nkey_index`` over the same docs.

    ``docs`` overrides the indexed corpus (default: ``_history_docs``);
    a partial corpus should pass ``register=False`` — see
    :func:`persist_minhash_index` for the contract. Partial builds are
    grown with :func:`append_nkey_index` and shrunk with
    :func:`delete_from_nkey_index`."""
    owns = path is None
    if path is None:
        path = tempfile.mkdtemp(prefix="nkey_index_")
    target = os.path.join(path, "nkeys")
    # nkey-BUCKETED ledger (r18, VERDICT r17 #4): the live-set fold
    # (groupBy nkey) and the consumers' anti-joins cluster on nkey, so
    # the bucketed scan serves them exchange-free — the layout
    # load_nkey_index's docstring always named as the production
    # shape, now actually written.
    nb = _index_buckets(spark)
    table = _index_table_name("nkeys", target)
    _write_bucketed_index(
        _nkey_ledger(_history_docs(spark, sf_dir) if docs is None else docs),
        table, target, "nkey", nb,
    )
    idx = NkeyIndex(target, owns_path=owns, table=table, n_buckets=nb)
    if register:  # see persist_minhash_index: False = caller-scoped build
        key = os.path.abspath(sf_dir)
        _drop(_NKEY.get(key))  # rebuild: reap the replaced module-owned dir
        _NKEY[key] = idx
    return idx


def nkey_index_for(sf_dir: str) -> NkeyIndex | None:
    return _NKEY.get(os.path.abspath(sf_dir))


def _nkey_ledger(docs: DataFrame) -> DataFrame:
    """Owner-count ledger rows ``(nkey, _n)`` of a docs frame: the
    shared ``canonical_nkey`` canonicalization, aggregated to one row
    per key. ``GROUP BY`` keys ≡ ``DISTINCT``, so the ledger's key set
    is definitionally ``history_nkey_index`` over the same docs — the
    counts are what the delete path adds on top."""
    from pyspark.sql import functions as F

    from etl_project_spark.operators.dedup import canonical_nkey

    return (
        docs.select(canonical_nkey(F.col("text")).alias("nkey"))
        .groupBy("nkey")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


def load_nkey_index(spark: SparkSession, idx: NkeyIndex) -> DataFrame:
    """The LIVE distinct key set: fold the signed owner-count deltas
    and keep keys with surviving owners. Output schema is the same
    one-column ``nkey`` frame the pre-ledger format served, so every
    anti-join consumer is oblivious to the format change. The fold is
    a map-side-combined hash aggregate over a two-column parquet —
    and since r18 the ledger IS bucketed by nkey, so the fold runs
    shuffle-free (plain-parquet fallback for handles without a live
    catalog entry in this session)."""
    from pyspark.sql import functions as F

    src = _table_frame(spark, idx.table, idx.path)
    return (
        src.groupBy("nkey")
        .agg(F.sum("_n").alias("_n"))
        .filter(F.col("_n") > 0)
        .select("nkey")
    )


def append_nkey_index(
    spark: SparkSession,
    sf_dir: str,
    idx: NkeyIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> NkeyIndex:
    """Incremental maintenance for the canonical-key index: fold an
    arriving batch's nkeys into the persisted ledger without
    re-canonicalizing history (round-15 verdict #1, nkey side).

    With the owner-count ledger format the append is a pure O(batch)
    blind append of the batch's ``(nkey, +owners)`` rows — it never
    reads the index at all (the r16 anti-join, and the
    read-while-append localCheckpoint hazard it dragged in, are gone):
    a batch nkey already present in history simply adds a second
    positive delta, and the fold at :func:`load_nkey_index` restores
    the set property. Folded grown index == ``history_nkey_index``
    over history ∪ batch, exactly (pinned in tests/test_dedup_index).
    """
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    batch = read_table(spark, sf_dir, "documents").filter(
        F.col("source") == batch_source
    )
    _append_nkey_ledger(spark, idx, _nkey_ledger(batch))
    return idx


def _append_nkey_ledger(
    spark: SparkSession, idx: NkeyIndex, ledger: DataFrame
) -> None:
    """Blind-append ledger delta rows, preserving the bucketed layout
    when the handle carries one (plain parquet append otherwise)."""
    if idx.table is not None and spark.catalog.tableExists(idx.table):
        _write_bucketed_index(
            ledger, idx.table, idx.path, "nkey", idx.n_buckets, mode="append"
        )
    else:
        ledger.write.mode("append").parquet(idx.path)


def delete_from_nkey_index(
    spark: SparkSession, idx: NkeyIndex, tombstoned_docs: DataFrame
) -> NkeyIndex:
    """Index DELETE, nkey side (round-16 verdict #1): retract
    tombstoned documents' ownership from the canonical-key ledger
    WITHOUT re-canonicalizing history.

    ``tombstoned_docs`` is a docs frame (needs ``text``) of ONLY the
    documents being removed — canonicalizing them is O(tombstones),
    the retraction analog of the append's O(batch). Their negated
    owner counts are appended as ``(nkey, -owners)`` deltas; the fold
    then drops exactly the nkeys whose LAST owner was tombstoned and
    keeps every key another surviving document still owns — the
    distinct-set subtlety that made the bare-set format delete-blind.
    Nothing reads history text, and nothing reads the index either:
    the delete is a blind O(tomb) append, with
    :func:`compact_nkey_index` folding the tombstone rows away
    physically on the next maintenance window.
    """
    from pyspark.sql import functions as F

    _append_nkey_ledger(
        spark,
        idx,
        _nkey_ledger(tombstoned_docs).select("nkey", (-F.col("_n")).alias("_n")),
    )
    return idx


def compact_nkey_index(spark: SparkSession, idx: NkeyIndex) -> NkeyIndex:
    """Fold the ledger physically: aggregate the signed deltas, drop
    dead keys (``SUM(_n) <= 0``), rewrite as one compact file set, and
    atomically swap the directory in — the periodic fold-in that
    bounds both the ledger's file count and the probe-side
    aggregate's input after K append/delete cycles. Folded ≡ unfolded
    live set is pinned in tests/test_dedup_index.py."""
    from pyspark.sql import functions as F

    staging = idx.path.rstrip("/") + ".staging_compact"
    old = idx.path.rstrip("/") + ".pre_compact"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    folded = (
        spark.read.parquet(idx.path)
        .groupBy("nkey")
        .agg(F.sum("_n").alias("_n"))
        .filter(F.col("_n") > 0)
    )
    bucketed = idx.table is not None and spark.catalog.tableExists(idx.table)
    if bucketed:
        # Re-bucket at the fold width (8 — one file per bucket), so the
        # compacted ledger keeps the shuffle-free fold property.
        stg_table = _index_table_name("stgnk", staging)
        _write_bucketed_index(folded, stg_table, staging, "nkey", 8, align=True)
        spark.sql(f"DROP TABLE IF EXISTS {stg_table}")
    else:
        folded.coalesce(8).write.mode("overwrite").parquet(staging)
    os.rename(idx.path, old)
    os.rename(staging, idx.path)
    shutil.rmtree(old, ignore_errors=True)
    if bucketed:
        _register_bucketed_index(
            spark, idx.table, idx.path, "nkey STRING, _n BIGINT", "nkey", 8
        )
        idx.n_buckets = 8
    return idx
