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

Mechanism, shared by every index kind here and by the PQ codes of
``ann_index``: ``persist_*`` builds the frame once with THE shared
builder (so served and inflight rows are definitionally identical),
writes it to plain parquet, and :func:`register_index` records the
handle in ONE process-local registry keyed by (index kind, absolute
corpus dir). Consumers (the batch incremental plan, or a caller wiring
up the streaming twins) ask :func:`index_for` with their build
parameters and fall back to the inflight builder when nothing matches.
Registration is an explicit session opt-in, so the driver's
correctness runs (no registration) always exercise the self-contained
path; parity between the two paths is asserted by
``tests/test_dedup_index.py``.

A parameter mismatch means "no index", never "close enough": grams
hashed at a different ``n`` (or postings built for a different Hamming
budget / block split) are not an answer, they are a wrong answer.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import TypeVar

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

    #: The build parameters :func:`index_for` must match.
    PARAMS = ("n",)
    __slots__ = ("path", "n", "owns_path")

    def __init__(self, path: str, n: int, owns_path: bool = False) -> None:
        self.path = path
        self.n = n
        self.owns_path = owns_path


class SimHashIndex:
    """Handle for one persisted SimHash posting index (same
    ``owns_path`` cleanup contract as :class:`GramIndex`)."""

    PARAMS = ("max_hamming", "eq_blocks")
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
    """Handle for one persisted MinHash index: ONE per-document parquet
    frame ``(_id, _h0.._h{n-1}, _g)`` at ``path`` — the signature
    members plus the document's sorted distinct hashed-gram set, both
    aggregated by :func:`~etl_project_spark.operators.dedup.minhash_doc_frame`
    from the rows the inflight plan signs, over whatever corpus the
    caller indexed. Same ``owns_path`` cleanup contract as
    :class:`GramIndex`. ``bands`` is deliberately NOT a key parameter:
    band hashes derive from the signature downstream, so one signing
    serves any banding.

    Decision: one frame, not a signature frame beside an ``(_id,
    _gram)`` row table. Every maintenance step is then one write of
    whole documents (an append cannot half-land, a delete rewrites one
    file set), and the probe verifies candidates with one
    ``array_intersect`` per pair instead of per-gram joins. On
    perfbench ``index_cycles`` (4-core host, 10 interleaved pairs) the
    median append + probe round fell from 3.01 s to 1.78 s and the
    index from 3.51 to 3.33 bytes per indexed text byte (BASELINE.md
    "MinHash index as one per-doc frame").

    ``sig_path`` and ``rows_path`` are read-only names for ``path``,
    kept for callers that list the index's directories.
    """

    PARAMS = ("n_hashes", "shingle_k", "use_token_ngrams")
    __slots__ = ("path", "n_hashes", "shingle_k", "use_token_ngrams", "owns_path")

    def __init__(
        self,
        path: str,
        n_hashes: int,
        shingle_k: int,
        use_token_ngrams: bool,
        owns_path: bool = False,
    ) -> None:
        self.path = path
        self.n_hashes = n_hashes
        self.shingle_k = shingle_k
        self.use_token_ngrams = use_token_ngrams
        self.owns_path = owns_path

    @property
    def sig_path(self) -> str:
        return self.path

    @property
    def rows_path(self) -> str:
        return self.path


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
    MinHash appends document.

    Decision: the ledger is plain parquet, like every other index, and
    persist, append and delete are each one parquet write. An
    nkey-bucketed catalog table (round 18) made the fold shuffle-free
    but ran catalog DDL on every build, append and compaction, and it
    never paid: ``q_nkey_indexed_curation_audit`` took 1.641 s
    bucketed vs 1.430 s plain at sf0.1 and 3.837 vs 3.810 s at sf1
    (``records/bucketed_index_sf1_r18.txt``). On a 4-core host, 5
    interleaved sf0.1 process pairs, steady medians went 2.01 → 1.88 s
    for that query and 1.88 → 1.70 s for ``q_nkey_index_append_audit``,
    with identical results (BASELINE.md "nkey ledger as plain
    parquet")."""

    PARAMS = ()
    __slots__ = ("path", "owns_path")

    def __init__(self, path: str, owns_path: bool = False) -> None:
        self.path = path
        self.owns_path = owns_path


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


#: (handle class, abs corpus dir) -> the registered handle: the one
#: serving registry for every index kind, PQ codes included.
_INDEXES: dict[tuple[type, str], object] = {}

_Index = TypeVar("_Index")


def _drop(idx) -> None:
    """Delete a module-owned index directory (no-op for caller paths)."""
    if idx is not None and idx.owns_path:
        shutil.rmtree(os.path.dirname(idx.path), ignore_errors=True)


def register_index(sf_dir: str, idx) -> None:
    """Serve ``idx`` for its kind over the corpus at ``sf_dir``. A
    rebuild replaces the kind's previous handle and reaps that
    handle's directory if the module owns it."""
    key = (type(idx), os.path.abspath(sf_dir))
    _drop(_INDEXES.get(key))
    _INDEXES[key] = idx


def index_for(kind: type[_Index], sf_dir: str, **params) -> _Index | None:
    """The registered ``kind`` handle for ``sf_dir``, ONLY if every
    build parameter matches. ``params`` must name exactly the kind's
    ``PARAMS``, so a caller cannot match on a subset."""
    if set(params) != set(kind.PARAMS):
        raise TypeError(
            f"{kind.__name__} lookup takes {kind.PARAMS}, got {tuple(params)}"
        )
    idx = _INDEXES.get((kind, os.path.abspath(sf_dir)))
    if idx is not None and all(getattr(idx, k) == v for k, v in params.items()):
        return idx
    return None


def clear_indexes() -> None:
    """Forget every registered index and reap the module-owned dirs."""
    for idx in _INDEXES.values():
        _drop(idx)
    _INDEXES.clear()


def _swap_in(df: DataFrame, path: str) -> None:
    """Replace the parquet directory at ``path`` with ``df``: write a
    staging dir beside it, rename the live dir aside, rename the
    staging dir in, then delete the old one. A failed write leaves
    ``path`` untouched; the next swap clears its leftover staging dir.
    (On an object store, with no atomic rename, this is the
    Delta/Iceberg OPTIMIZE + snapshot swap.)"""
    staging = path.rstrip("/") + ".staging_compact"
    old = path.rstrip("/") + ".pre_compact"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    df.write.mode("overwrite").parquet(staging)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


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
    register_index(sf_dir, idx)
    return idx


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
        register_index(sf_dir, idx)
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
    at ``sf_dir``: write the per-document index frame (signature + gram
    set, see :class:`MinHashIndex`) in one job and register it. Repeat
    near-dup sweeps then skip the shingle explode + 64-way min
    aggregation — the dominant cost of ``q_minhash_near_dup_pairs``
    (the #1 sf10 in-sweep cost, 394–454 s, re-signed on every run
    before this).

    ``docs`` overrides the signed corpus (default: the full documents
    table at ``sf_dir``) — the incremental topology builds the index
    over HISTORY only (``_history_docs``) and then grows it with
    :func:`append_minhash_index`. A caller-supplied ``docs`` that is
    not the full corpus should pass ``register=False``: the registry
    key is the corpus dir, and serving consumers assume a registered
    index covers it entirely."""
    from etl_project_spark.catalog import read_table

    owns = path is None
    if path is None:
        path = tempfile.mkdtemp(prefix="minhash_index_")
    tag = f"nh{n_hashes}_k{shingle_k}_{'tok' if use_token_ngrams else 'char'}"
    idx = MinHashIndex(
        os.path.join(path, f"minhash_{tag}"), n_hashes, shingle_k,
        use_token_ngrams, owns_path=owns,
    )
    minhash_frame_for(
        read_table(spark, sf_dir, "documents") if docs is None else docs, idx
    ).write.mode("overwrite").parquet(idx.path)
    # register=False builds a caller-scoped index WITHOUT flipping the
    # process-local serving switch: the indexed registry query uses it
    # so running it can never silently convert the inflight query's
    # next run (same session, e.g. mid-sweep) into a served run —
    # that would corrupt the inflight timing series, not its answer.
    if register:
        register_index(sf_dir, idx)
    return idx


def minhash_frame_ddl(n_hashes: int) -> str:
    """The index frame's schema, so reads never run Spark's
    schema-inference job over the part-files' footers."""
    members = ", ".join(f"_h{j} BIGINT" for j in range(n_hashes))
    return f"_id BIGINT, {members}, _g ARRAY<BIGINT>"


def load_minhash_index(spark: SparkSession, idx: MinHashIndex) -> DataFrame:
    """The index frame ``(_id, _h0.._h{n-1}, _g)`` — the ``signed=``
    input of :func:`minhash_near_dup_pairs`."""
    return spark.read.schema(minhash_frame_ddl(idx.n_hashes)).parquet(idx.path)


def batch_minhash_frame(
    spark: SparkSession,
    sf_dir: str,
    idx: MinHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> DataFrame:
    """The index frame of ONLY the arriving batch (``source ==
    batch_source``), signed with the index's own parameters — the unit
    of work an index APPEND pays. Factored out of
    :func:`append_minhash_index` so tests can pin the no-history-rescan
    property on the exact frame the append writes: its only documents
    scan carries the pushed ``source = batch_source`` filter.

    Every row is a pure function of one document's text, so batch rows
    computed in isolation are bit-identical to the same documents' rows
    in a whole-corpus build — appending them to a history-built index
    yields EXACTLY the full-corpus index (doc_id is unique
    corpus-wide, so the frame stays one row per doc).
    """
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    batch = read_table(spark, sf_dir, "documents").filter(
        F.col("source") == batch_source
    )
    return minhash_frame_for(batch, idx)


def minhash_frame_for(docs: DataFrame, idx: MinHashIndex) -> DataFrame:
    """The index frame of an ARBITRARY docs frame, signed with the
    index's own parameters."""
    from etl_project_spark.operators.dedup import (
        minhash_doc_frame,
        minhash_gram_rows,
    )

    rows = minhash_gram_rows(
        docs,
        "doc_id",
        "text",
        shingle_k=idx.shingle_k,
        use_token_ngrams=idx.use_token_ngrams,
    )
    return minhash_doc_frame(rows, n_hashes=idx.n_hashes)


def append_minhash_frames(idx: MinHashIndex, docs: DataFrame) -> None:
    """The shared append WRITE body: sign ``docs`` with the index's
    parameters and append their frame rows to the persisted parquet in
    ONE write. Both the batch maintenance path
    (:func:`append_minhash_index`) and the streaming twin
    (``streaming.dedup.stream_minhash_index_append``'s per-epoch fold)
    call exactly this, so the two cannot drift.

    One write means one commit: Spark's file commit protocol moves the
    job's part-files into the directory only when every task
    succeeded, so a failed append leaves the index at its pre-append
    rows (pinned in tests/test_dedup_index.py). A RETRIED epoch that
    had already committed would append its documents twice — the
    single-writer exactly-once seam this module models;
    :func:`compact_minhash_index` folds such duplicates, and on a real
    object store the commit is a Delta/Iceberg manifest entry."""
    minhash_frame_for(docs, idx).write.mode("append").parquet(idx.path)


def append_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    idx: MinHashIndex,
    *,
    batch_source: str = BATCH_SOURCE,
) -> MinHashIndex:
    """Incremental index MAINTENANCE (round-15 verdict #1): sign ONLY
    the arriving batch and APPEND its frame rows into the persisted
    index (:func:`append_minhash_frames`), instead of re-signing the
    whole corpus.

    History is signed once (``persist_minhash_index`` over
    ``_history_docs``), and each arriving batch pays O(batch) signing
    + one append write — never an O(corpus) rebuild. The grown index
    is bit-identical to a full rebuild (see
    :func:`batch_minhash_frame`), so every ``signed=`` consumer is
    oblivious to how the index was grown. Parquet ``append`` adds new
    part-files without touching existing ones, so a concurrent reader
    of the pre-append snapshot keeps a consistent view.

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
    spark: SparkSession, idx: MinHashIndex, tombstone_ids: DataFrame
) -> list[str]:
    """The part-files of the index frame that contain at least one
    tombstoned ``_id`` — the unit of a file-granularity delete.

    The scan is column-pruned to ``_id`` + the virtual file name, so
    finding the affected files costs one cheap id-column pass; the
    collect is bounded metadata (distinct file PATHS, not rows — at
    most the directory's part-file count). Because appends land each
    batch in its own part-files, a delete targeting a recent batch
    touches only that batch's files: the rewrite is O(affected files),
    not O(index) — the hand-rolled form of Delta/Iceberg's
    file-level delete planning.
    """
    return [r["_file"] for r in _affected_files_frame(spark, idx, tombstone_ids).collect()]


def _affected_files_frame(
    spark: SparkSession, idx: MinHashIndex, tombstone_ids: DataFrame
) -> DataFrame:
    """The distinct-file-paths frame behind
    :func:`_affected_index_files` — factored out so tests can assert
    the executed plan (column-pruned to ``_id``; no text anywhere)."""
    from pyspark.sql import functions as F

    return (
        load_minhash_index(spark, idx)
        .select("_id", F.input_file_name().alias("_file"))
        .join(tombstone_ids.select("_id"), "_id", "left_semi")
        .select("_file")
        .distinct()
    )


def _survivors_frame(
    spark: SparkSession, idx: MinHashIndex, files: list[str], tombstone_ids: DataFrame
) -> DataFrame:
    """The rows of ``files`` whose ``_id`` is not tombstoned — what a
    delete writes back."""
    return (
        spark.read.schema(minhash_frame_ddl(idx.n_hashes))
        .parquet(*files)
        .join(tombstone_ids.select("_id"), "_id", "left_anti")
    )


def delete_from_minhash_index(
    spark: SparkSession, idx: MinHashIndex, tombstone_ids: DataFrame
) -> MinHashIndex:
    """Index DELETE — the retraction half of incremental maintenance
    (round-16 verdict #1): remove tombstoned documents (takedowns,
    opt-outs, licensing reversals) from the persisted frame WITHOUT
    re-signing anything.

    ``tombstone_ids`` is a one-column ``_id`` frame. Every frame row
    belongs to one document, so retraction is a pure anti-join — no
    last-owner subtlety, unlike the nkey set
    (:func:`delete_from_nkey_index`). Mechanism: find the part-files
    that hold a tombstoned row (one column-pruned id pass), append
    those files' surviving rows to the directory in one write, then
    remove the originals. A crash between the two steps leaves the
    survivors twice, which :func:`compact_minhash_index` folds; it can
    never lose a row. Nothing reads document text (asserted on the
    executed plans in tests/test_dedup_index.py), and cost is
    O(affected files): deleting a recent batch rewrites just that
    batch's files. Traced on perfbench ``index_cycles`` (seed 1,
    4-core host) the two-frame delete with its staging tables took
    4.1 s; this one took 2.5 s, still above the 1.1 s compaction that
    follows it, since it is the run's first Python worker call
    (BASELINE.md "MinHash index as one per-doc frame").

    The shrunk index is frame-identical to a rebuild over
    corpus-minus-tombstones, so every ``signed=`` consumer is
    oblivious to how the index shrank.
    """
    import urllib.parse
    import urllib.request

    # Both steps read the tombstones: evaluate them once. A frame built
    # from a driver-side list is a Python RDD, and each read of it is a
    # Python worker call (~0.3 s warm on a 4-core host).
    tomb = tombstone_ids.select("_id").localCheckpoint()
    files = _affected_index_files(spark, idx, tomb)
    if not files:
        return idx
    _survivors_frame(spark, idx, files, tomb).write.mode("append").parquet(idx.path)
    for f in files:
        try:
            os.remove(urllib.request.url2pathname(urllib.parse.urlparse(f).path))
        except FileNotFoundError:
            pass
    return idx


def compact_minhash_index(
    spark: SparkSession, idx: MinHashIndex, *, target_files: int = 8
) -> MinHashIndex:
    """Fold K append/delete cycles' accumulated part-files into at most
    ``target_files`` (round-16 verdict #2): every ``mode("append")``
    adds files, so after K daily cycles a probe scan opens K× the files
    (and any crash-retry duplicates persist on disk); read
    amplification grows without bound until someone rewrites. This is
    that rewrite: the frame is read, duplicate ``_id`` rows from
    retried appends/deletes are folded, coalesced, and swapped in
    (:func:`_swap_in`).

    Compacted ≡ grown frame equality is pinned in
    tests/test_dedup_index.py.
    """
    _swap_in(
        load_minhash_index(spark, idx).dropDuplicates(["_id"]).coalesce(target_files),
        idx.path,
    )
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
    idx = NkeyIndex(os.path.join(path, "nkeys"), owns_path=owns)
    _nkey_ledger(
        _history_docs(spark, sf_dir) if docs is None else docs
    ).write.mode("overwrite").parquet(idx.path)
    if register:  # see persist_minhash_index: False = caller-scoped build
        register_index(sf_dir, idx)
    return idx


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


def _nkey_fold(spark: SparkSession, idx: NkeyIndex) -> DataFrame:
    """The folded ledger ``(nkey, _n)``: signed deltas summed per key,
    keys with no surviving owner dropped. A map-side-combined hash
    aggregate over the two-column parquet, read with its schema given
    so no schema-inference job runs; each read lists the directory
    afresh, so appends from any session are seen."""
    from pyspark.sql import functions as F

    return (
        spark.read.schema("nkey STRING, _n BIGINT")
        .parquet(idx.path)
        .groupBy("nkey")
        .agg(F.sum("_n").alias("_n"))
        .filter(F.col("_n") > 0)
    )


def load_nkey_index(spark: SparkSession, idx: NkeyIndex) -> DataFrame:
    """The LIVE distinct key set (:func:`_nkey_fold`'s keys). Output
    schema is the same one-column ``nkey`` frame the pre-ledger format
    served, so every anti-join consumer is oblivious to the format
    change."""
    return _nkey_fold(spark, idx).select("nkey")


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
    _nkey_ledger(batch).write.mode("append").parquet(idx.path)
    return idx


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

    _nkey_ledger(tombstoned_docs).select(
        "nkey", (-F.col("_n")).alias("_n")
    ).write.mode("append").parquet(idx.path)
    return idx


def compact_nkey_index(spark: SparkSession, idx: NkeyIndex) -> NkeyIndex:
    """Fold the ledger physically: aggregate the signed deltas, drop
    dead keys (``SUM(_n) <= 0``), rewrite as one compact file set, and
    atomically swap the directory in — the periodic fold-in that
    bounds both the ledger's file count and the probe-side
    aggregate's input after K append/delete cycles. Folded ≡ unfolded
    live set is pinned in tests/test_dedup_index.py."""
    _swap_in(_nkey_fold(spark, idx).coalesce(8), idx.path)
    return idx
