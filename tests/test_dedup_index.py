"""Persisted dedup serving indexes (sources/dedup_index.py): serving
from the pay-once gram / SimHash-posting parquet must (a) return
row-identical results to the self-contained shingle-per-run path,
(b) actually skip the history document scan in the served plan, and
(c) refuse to serve under mismatched build parameters."""

from __future__ import annotations

import pytest

from etl_project_spark.plans.registry import all_specs
from etl_project_spark.sources import dedup_index as DX
from tests.conftest import SF_ORACLE


@pytest.fixture()
def gram_index(spark, tmp_path):
    idx = DX.persist_gram_index(spark, SF_ORACLE, path=str(tmp_path / "gidx"))
    yield idx
    DX.clear_dedup_indexes()


def _run_incremental(spark):
    return sorted(
        tuple(r)
        for r in all_specs()["q_incremental_dedup_new_batch"]
        .builder(spark, SF_ORACLE)
        .collect()
    )


def test_gram_index_served_equals_inflight(spark, tmp_path):
    DX.clear_dedup_indexes()
    inflight = _run_incremental(spark)
    DX.persist_gram_index(spark, SF_ORACLE, path=str(tmp_path / "gidx"))
    try:
        served = _run_incremental(spark)
    finally:
        DX.clear_dedup_indexes()
    assert served == inflight and inflight


def test_gram_index_served_plan_skips_history_scan(spark, gram_index):
    """With the index registered, the plan must read the documents
    table only for the BATCH side (source = src19 scans: the gram side
    and the emit-every-doc id side) — the history grams come from the
    index parquet, so no history-predicate scan survives."""
    # a cached `documents` relation from another module would replace
    # the parquet scans with InMemoryTableScan and hide PushedFilters
    spark.catalog.clearCache()
    df = all_specs()["q_incremental_dedup_new_batch"].builder(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the persisted index is in the plan as TWO column-pruned scans —
    # grams (_hid,_g) for the probe join, sizes (_hid,_szh) for the
    # post-agg join (plan strings truncate paths, so match ReadSchema)
    assert "struct<_hid:bigint,_g:bigint>" in plan
    assert "struct<_hid:bigint,_szh:bigint>" in plan
    # every remaining documents scan is batch-side: the history
    # predicate (source != src19) appears in NO pushed filter
    assert "Not(EqualTo(source" not in plan
    # and without the index the history scan IS there (guards the
    # assertion itself against filter-string drift)
    DX.clear_dedup_indexes()
    inflight_plan = (
        all_specs()["q_incremental_dedup_new_batch"]
        .builder(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Not(EqualTo(source" in inflight_plan


def test_gram_index_param_mismatch_refuses(spark, gram_index):
    assert DX.gram_index_for(SF_ORACLE, n=3) is gram_index
    assert DX.gram_index_for(SF_ORACLE, n=5) is None
    assert DX.gram_index_for("/nonexistent", n=3) is None


def test_simhash_index_served_equals_inflight(spark, tmp_path):
    """The persisted posting rows must equal the inflight
    history_simhash_index frame exactly — same fingerprints, same
    (cmask, key) postings — so a stream served from parquet joins the
    identical static side."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.streaming.dedup import history_simhash_index
    from pyspark.sql import functions as F

    hist = read_table(spark, SF_ORACLE, "documents").filter(
        F.col("source") != DX.BATCH_SOURCE
    )
    inflight = sorted(
        tuple(r)
        for r in history_simhash_index(hist, max_hamming=3, eq_blocks=2).collect()
    )
    idx = DX.persist_simhash_index(
        spark, SF_ORACLE, max_hamming=3, eq_blocks=2, path=str(tmp_path / "sidx")
    )
    try:
        assert DX.simhash_index_for(SF_ORACLE, max_hamming=3, eq_blocks=2) is idx
        assert DX.simhash_index_for(SF_ORACLE, max_hamming=2, eq_blocks=2) is None
        served = sorted(
            tuple(r) for r in DX.load_simhash_index(spark, idx).collect()
        )
    finally:
        DX.clear_dedup_indexes()
    assert served == inflight and inflight


def test_simhash_stream_from_persisted_index(spark, tmp_path):
    """End-to-end: the streaming near-dup twin fed by the PERSISTED
    posting index must produce the same matches as when fed the
    inflight one (the served-static-side contract)."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.streaming.dedup import (
        history_simhash_index,
        stream_simhash_near_dup,
    )
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_ORACLE, "documents")
    hist = docs.filter(F.col("source") != DX.BATCH_SOURCE)
    new = docs.filter(F.col("source") == DX.BATCH_SOURCE)

    def matches(static_index):
        out = stream_simhash_near_dup(
            new, static_index, max_hamming=3, eq_blocks=2
        )
        return sorted(tuple(r) for r in out.collect())

    inflight = matches(history_simhash_index(hist, max_hamming=3, eq_blocks=2))
    idx = DX.persist_simhash_index(
        spark, SF_ORACLE, max_hamming=3, eq_blocks=2, path=str(tmp_path / "sidx")
    )
    try:
        served = matches(DX.load_simhash_index(spark, idx))
    finally:
        DX.clear_dedup_indexes()
    assert served == inflight


def test_gram_builders_row_and_array_forms_agree(spark):
    """The codegen row form (gram_rows_hashed — batch/static sides) and
    the stateless array form (doc_gram_index — stream sides) must
    produce the IDENTICAL (doc, gram-hash) set and sizes: they are two
    physical plans for one definition."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators.dedup import doc_gram_index, gram_rows_hashed

    docs = read_table(spark, SF_ORACLE, "documents")
    arr = sorted(
        tuple(r)
        for r in doc_gram_index(docs, n=3, id_out="_id", sz_out="_sz").collect()
    )
    rows_g = gram_rows_hashed(docs, n=3, id_out="_id")
    from pyspark.sql import functions as F

    sz = rows_g.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    row = sorted(
        tuple(r)
        for r in rows_g.join(sz, "_id").select("_id", "_sz", "_g").collect()
    )
    assert arr == row and arr


def test_span_gram_forms_agree(spark):
    """span_gram_rows (codegen row form) must equal the HOF
    posexplode(span_gram_hashes_from_toks(...)) form row-for-row."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators.dedup import (
        span_gram_hashes_from_toks,
        span_gram_rows,
        span_tokens_col,
    )
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_ORACLE, "documents")
    row = sorted(tuple(r) for r in span_gram_rows(docs, k=5).collect())
    hof = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id", span_tokens_col(F.col("text")).alias("_toks")
        )
        .select(
            "doc_id",
            F.posexplode(span_gram_hashes_from_toks(F.col("_toks"), 5)).alias(
                "p0", "g"
            ),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "g")
        .collect()
    )
    assert row == hof and row


def test_module_owned_index_dirs_are_reaped(spark, tmp_path):
    """path=None allocates a temp dir the MODULE owns: rebuilding for
    the same corpus reaps the replaced directory, and clear deletes the
    last one — a long-lived session cannot accumulate orphans.
    Caller-supplied paths are never deleted."""
    import os

    a = DX.persist_gram_index(spark, SF_ORACLE)  # module-owned
    dir_a = os.path.dirname(a.path)
    assert os.path.isdir(dir_a)
    b = DX.persist_gram_index(spark, SF_ORACLE)  # rebuild, same corpus
    assert not os.path.isdir(dir_a)              # replaced dir reaped
    dir_b = os.path.dirname(b.path)
    DX.clear_dedup_indexes()
    assert not os.path.isdir(dir_b)              # cleared dir reaped

    mine = str(tmp_path / "caller_owned")
    c = DX.persist_gram_index(spark, SF_ORACLE, path=mine)
    DX.clear_dedup_indexes()
    assert os.path.isdir(os.path.dirname(c.path))  # caller path kept


def _run_minhash(spark):
    return sorted(
        tuple(r)
        for r in all_specs()["q_minhash_near_dup_pairs"]
        .builder(spark, SF_ORACLE)
        .collect()
    )


def test_minhash_index_served_equals_inflight(spark, tmp_path):
    DX.clear_dedup_indexes()
    inflight = _run_minhash(spark)
    DX.persist_minhash_index(spark, SF_ORACLE, path=str(tmp_path / "midx"))
    try:
        served = _run_minhash(spark)
    finally:
        DX.clear_dedup_indexes()
    assert served == inflight and inflight


def test_minhash_index_served_plan_skips_signing_scan(spark, tmp_path):
    """With the index registered, the near-dup plan must not touch the
    documents table at all — signatures AND verify grams both come from
    the persisted parquet, so no text column is read anywhere."""
    spark.catalog.clearCache()
    DX.persist_minhash_index(spark, SF_ORACLE, path=str(tmp_path / "midx"))
    try:
        plan = (
            all_specs()["q_minhash_near_dup_pairs"]
            .builder(spark, SF_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        DX.clear_dedup_indexes()
    assert "text:string" not in plan  # no corpus scan survives
    assert "_h0:bigint" in plan  # signature parquet is the source
    # guard the assertion against plan-string drift: the inflight plan
    # DOES scan the text column
    inflight_plan = (
        all_specs()["q_minhash_near_dup_pairs"]
        .builder(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "text:string" in inflight_plan


def test_minhash_index_param_mismatch_refuses(spark, tmp_path):
    idx = DX.persist_minhash_index(spark, SF_ORACLE, path=str(tmp_path / "midx"))
    try:
        assert (
            DX.minhash_index_for(
                SF_ORACLE, n_hashes=64, shingle_k=3, use_token_ngrams=True
            )
            is idx
        )
        assert (
            DX.minhash_index_for(
                SF_ORACLE, n_hashes=64, shingle_k=5, use_token_ngrams=True
            )
            is None
        )
        assert (
            DX.minhash_index_for(
                "/nonexistent", n_hashes=64, shingle_k=3, use_token_ngrams=True
            )
            is None
        )
    finally:
        DX.clear_dedup_indexes()


def test_minhash_indexed_query_matches_inflight(spark, tmp_path):
    """q_minhash_indexed_pairs (build-then-serve registry form) must
    return the inflight pair set row-for-row, its probe plan must not
    scan the documents text column, and — register=False — running it
    must NOT flip the process-local serving switch for the inflight
    twin (the mid-sweep timing-corruption hazard its docstring pins)."""
    DX.clear_dedup_indexes()
    spark.catalog.clearCache()
    inflight = _run_minhash(spark)
    df = all_specs()["q_minhash_indexed_pairs"].builder(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "text:string" not in plan  # probe is served, not re-signed
    assert "_h0:bigint" in plan  # signature parquet is the source
    indexed = sorted(tuple(r) for r in df.collect())
    assert indexed == inflight and indexed
    # caller-scoped build: the registry must still be empty
    assert (
        DX.minhash_index_for(
            SF_ORACLE, n_hashes=64, shingle_k=3, use_token_ngrams=True
        )
        is None
    )


def test_nkey_indexed_query_matches_inflight(spark, tmp_path):
    """q_nkey_indexed_curation_audit must equal the inflight audit
    row-for-row, serve history from parquet (no history-predicate
    documents scan in the plan), and leave the serving registry
    untouched (register=False)."""
    DX.clear_dedup_indexes()
    spark.catalog.clearCache()
    inflight = sorted(
        tuple(r)
        for r in all_specs()["q_incremental_curation_audit"]
        .builder(spark, SF_ORACLE)
        .collect()
    )
    df = all_specs()["q_nkey_indexed_curation_audit"].builder(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # history comes from the persisted nkey parquet: the history
    # predicate (source != src19) survives in NO pushed filter. The
    # positive anchor (ADVICE r15: a negative check alone passes
    # vacuously if a Spark upgrade reformats plan strings) is the index
    # parquet's ReadSchema — only the served scan reads the (nkey, _n)
    # ledger columns; the inflight plan computes nkey from text.
    assert "struct<nkey:string,_n:bigint>" in plan
    assert "Not(EqualTo(source" not in plan
    indexed = sorted(tuple(r) for r in df.collect())
    assert indexed == inflight and indexed
    assert DX.nkey_index_for(SF_ORACLE) is None


def test_minhash_append_grown_equals_rebuild(spark, tmp_path):
    """The incremental-maintenance invariant (round-16): a history-only
    index grown by ``append_minhash_index`` over the arriving batch is
    FRAME-IDENTICAL to a whole-corpus rebuild — same signatures, same
    gram sets — so every ``signed=`` consumer is oblivious to how the
    index was built."""
    DX.clear_dedup_indexes()
    grown = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "hist"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE),
    )
    DX.append_minhash_index(spark, SF_ORACLE, grown)
    full = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "full"), register=False
    )
    grown_rows = _frame_sorted(spark, grown)
    assert grown_rows == _frame_sorted(spark, full) and grown_rows


def test_minhash_frame_is_signature_plus_gram_set(spark, tmp_path):
    """The index frame's ``_h*`` columns are bit-identical to the
    inflight signature (``minhash_sig_from_rows`` over
    ``minhash_sig_rows``' rows) and ``_g`` is exactly each document's
    distinct gram-row set, sorted."""
    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators.dedup import minhash_sig_rows

    docs = read_table(spark, SF_ORACLE, "documents")
    idx = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "idx"), register=False, docs=docs
    )
    frame = {r["_id"]: r for r in DX.load_minhash_index(spark, idx).collect()}
    sig, rows = minhash_sig_rows(
        docs, "doc_id", "text", n_hashes=64, shingle_k=3, use_token_ngrams=True
    )
    sigs = {r["_id"]: tuple(r)[1:] for r in sig.collect()}
    grams: dict[int, set] = {}
    for r in rows.collect():
        grams.setdefault(r["_id"], set()).add(r["_gram"])
    assert frame and set(frame) == set(sigs) == set(grams)
    for i, r in frame.items():
        assert tuple(r[f"_h{j}"] for j in range(64)) == sigs[i]
        assert r["_g"] == sorted(grams[i])


def test_minhash_failed_append_leaves_index_unchanged(spark, tmp_path):
    """An append is one write: a batch that raises on the executor
    (``raise_error`` on one id) commits nothing, so the index keeps its
    pre-append rows and the next probe still answers from it."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators.dedup import minhash_near_dup_pairs

    d = read_table(spark, SF_ORACLE, "documents")
    idx = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "hist"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE),
    )
    before = _frame_sorted(spark, idx)
    batch = d.filter(F.col("source") == DX.BATCH_SOURCE)
    bad_id = batch.agg(F.max("doc_id")).first()[0]
    poisoned = batch.withColumn(
        "text",
        F.when(F.col("doc_id") == bad_id, F.raise_error(F.lit("poisoned batch")))
        .otherwise(F.col("text")),
    )
    with pytest.raises(Exception, match="poisoned batch"):
        DX.append_minhash_frames(idx, poisoned)
    assert _frame_sorted(spark, idx) == before

    history = d.filter(F.col("source") != DX.BATCH_SOURCE)
    probe = history.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("_id")
    )
    kw = dict(
        n_hashes=64, bands=32, shingle_k=3, threshold=0.5,
        use_token_ngrams=True, prefilter=False, probe_ids=probe,
    )
    served = sorted(
        tuple(r)
        for r in minhash_near_dup_pairs(
            history, "doc_id", "text", signed=DX.load_minhash_index(spark, idx), **kw
        ).collect()
    )
    inflight = sorted(
        tuple(r)
        for r in minhash_near_dup_pairs(history, "doc_id", "text", **kw).collect()
    )
    assert served == inflight and served


def test_minhash_append_signs_only_batch(spark, tmp_path):
    """The append job's unit of work must be O(batch), not O(corpus):
    both frames it writes carry exactly one documents scan, and that
    scan has the batch predicate PUSHED to the parquet source. Positive
    anchor (the pushed EqualTo must APPEAR) guards the negative
    single-scan check against plan-format drift (ADVICE r15)."""
    idx = DX.MinHashIndex(
        str(tmp_path / "idx"), n_hashes=64, shingle_k=3, use_token_ngrams=True,
    )
    frame = DX.batch_minhash_frame(spark, SF_ORACLE, idx)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(source,src19)" in plan  # batch filter is pushed
    assert plan.count("FileScan") == 1  # one scan: no history side
    assert "text" in plan  # that scan is the documents text scan


def test_minhash_append_query_matches_inflight(spark):
    """q_minhash_index_append_pairs (history build + batch append +
    probe) must return the inflight whole-corpus pair set row-for-row,
    probe from the grown parquet (no text scan in the probe plan), and
    leave the serving registry untouched (register=False)."""
    DX.clear_dedup_indexes()
    spark.catalog.clearCache()
    inflight = _run_minhash(spark)
    df = all_specs()["q_minhash_index_append_pairs"].builder(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "text:string" not in plan  # probe is served, not re-signed
    assert "_h0:bigint" in plan  # signature parquet is the source
    appended = sorted(tuple(r) for r in df.collect())
    assert appended == inflight and appended
    assert (
        DX.minhash_index_for(
            SF_ORACLE, n_hashes=64, shingle_k=3, use_token_ngrams=True
        )
        is None
    )


def test_nkey_append_grown_equals_rebuild_and_stays_distinct(spark, tmp_path):
    """Growing the nkey index by one batch (``append_nkey_index``)
    must land exactly on ``history_nkey_index`` over the full history —
    including the distinct-SET property (a batch nkey already present
    in history must not be appended again). A second fold-in of the
    same batch is a no-op (idempotent), because the anti-join sees the
    keys already present."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.streaming.pipeline import history_nkey_index

    d = read_table(spark, SF_ORACLE, "documents")
    older = d.filter(
        (F.col("source") != DX.BATCH_SOURCE) & (F.col("source") != "src18")
    )
    idx = DX.persist_nkey_index(
        spark, SF_ORACLE, path=str(tmp_path / "nk"), register=False, docs=older
    )
    DX.append_nkey_index(spark, SF_ORACLE, idx, batch_source="src18")
    full = sorted(
        r.nkey
        for r in history_nkey_index(
            DX._history_docs(spark, SF_ORACLE)
        ).collect()
    )
    grown = sorted(r.nkey for r in DX.load_nkey_index(spark, idx).collect())
    assert grown == full and grown  # equality implies no duplicates
    DX.append_nkey_index(spark, SF_ORACLE, idx, batch_source="src18")
    again = sorted(r.nkey for r in DX.load_nkey_index(spark, idx).collect())
    assert again == full


def test_stream_minhash_index_append_equals_batch_append(spark, tmp_path):
    """The streaming maintenance twin: an availableNow multi-trigger
    run over the batch's files (maxFilesPerTrigger=1 → one epoch per
    file, exercising per-epoch append composition) must leave the
    persisted index bit-identical to a whole-corpus rebuild — i.e. the
    drained stream == the batch append == the rebuild."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.streaming.dedup import stream_minhash_index_append

    d = read_table(spark, SF_ORACLE, "documents")
    arriving_dir = str(tmp_path / "arriving")
    d.filter(F.col("source") == DX.BATCH_SOURCE).repartition(4).write.parquet(
        arriving_dir
    )
    grown = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "hist"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE),
    )
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arriving_dir)
    )
    q = stream_minhash_index_append(
        stream, grown, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and not q.isActive
    full = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "full"), register=False
    )
    assert _frame_sorted(spark, grown) == _frame_sorted(spark, full)


def test_nkey_append_query_matches_inflight(spark):
    """q_nkey_index_append_audit (older-history build + src18 fold-in +
    src19 audit) must equal the inflight audit row-for-row and serve
    history from the grown parquet (positive anchor: the bare-nkey
    ReadSchema; negative: no history-predicate documents scan)."""
    DX.clear_dedup_indexes()
    spark.catalog.clearCache()
    inflight = sorted(
        tuple(r)
        for r in all_specs()["q_incremental_curation_audit"]
        .builder(spark, SF_ORACLE)
        .collect()
    )
    df = all_specs()["q_nkey_index_append_audit"].builder(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "struct<nkey:string,_n:bigint>" in plan
    assert "Not(EqualTo(source" not in plan
    appended = sorted(tuple(r) for r in df.collect())
    assert appended == inflight and appended
    assert DX.nkey_index_for(SF_ORACLE) is None


def test_nkey_index_served_equals_inflight(spark, tmp_path):
    DX.clear_dedup_indexes()

    def run():
        return sorted(
            tuple(r)
            for r in all_specs()["q_incremental_curation_audit"]
            .builder(spark, SF_ORACLE)
            .collect()
        )

    inflight = run()
    idx = DX.persist_nkey_index(spark, SF_ORACLE, path=str(tmp_path / "nidx"))
    try:
        assert DX.nkey_index_for(SF_ORACLE) is idx
        assert DX.nkey_index_for("/nonexistent") is None
        served = run()
    finally:
        DX.clear_dedup_indexes()
    assert served == inflight and inflight


# -- round-17: index DELETE (retraction) + compaction -----------------------


def _tomb_ids(spark):
    """Tombstone set for the delete tests: the even-md5-bucket half of
    the src19 batch — deterministic, non-empty, and a strict subset of
    the batch, so the delete after an append exercises exactly the
    takedown-of-recent-ingest shape. Built from (doc_id, source) only;
    retraction must never need the text."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    d = read_table(spark, SF_ORACLE, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 2
    )
    return d.filter(
        (F.col("source") == DX.BATCH_SOURCE) & (bucket == 0)
    ).select(F.col("doc_id").alias("_id"))


def _frame_sorted(spark, idx):
    return sorted(tuple(r) for r in DX.load_minhash_index(spark, idx).collect())


def test_minhash_delete_shrunk_equals_rebuild_minus_tombstones(spark, tmp_path):
    """The retraction invariant (round-17): a grown index with a
    tombstone slice deleted is FRAME-IDENTICAL to a rebuild over
    corpus-minus-tombstones — per-doc purity in reverse: dropping one
    doc's rows cannot perturb any other doc's. Also pins that the
    delete actually removed rows (non-vacuous)."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table

    tomb = _tomb_ids(spark)
    assert tomb.count() > 0
    grown = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "hist"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE),
    )
    DX.append_minhash_index(spark, SF_ORACLE, grown)
    before = _frame_sorted(spark, grown)
    DX.delete_from_minhash_index(spark, grown, tomb)

    alive = read_table(spark, SF_ORACLE, "documents").join(
        tomb.select(F.col("_id").alias("doc_id")), "doc_id", "left_anti"
    )
    rebuilt = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "alive"), register=False,
        docs=alive,
    )
    shrunk = _frame_sorted(spark, grown)
    assert shrunk == _frame_sorted(spark, rebuilt)
    assert shrunk and len(shrunk) < len(before)  # delete shrank the index


def test_minhash_delete_rewrites_only_affected_files(spark, tmp_path):
    """The O(affected files) claim: appends land each batch in its own
    part-files, so deleting batch-only tombstones must leave every
    history-build part-file untouched (same inode set) and remove or
    rewrite only files that held a tombstoned row."""
    import os
    import urllib.parse
    import urllib.request

    def local_files(path):
        return {
            f for f in os.listdir(path) if f.startswith("part-")
        }

    grown = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "hist"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE),
    )
    hist_files = local_files(grown.path)
    DX.append_minhash_index(spark, SF_ORACLE, grown)
    tomb = _tomb_ids(spark)
    affected = DX._affected_index_files(spark, grown, tomb)
    affected_names = {
        os.path.basename(urllib.parse.urlparse(f).path) for f in affected
    }
    # tombstones are batch-only ⇒ no history part-file is affected
    assert affected_names and affected_names.isdisjoint(hist_files)
    DX.delete_from_minhash_index(spark, grown, tomb)
    after = local_files(grown.path)
    assert hist_files <= after          # history files untouched
    assert affected_names.isdisjoint(after)  # affected files rewritten away


def test_minhash_delete_plans_never_read_text(spark, tmp_path):
    """The no-re-sign property of the delete job, on executed plans:
    neither the affected-file discovery nor the survivor rewrite reads
    ANY document text — both sides are the column-pruned index parquet
    plus a (doc_id, source)-only tombstone frame. Positive anchors
    (ADVICE r15) guard the negative checks against plan-format
    drift."""
    grown = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "hist"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE),
    )
    DX.append_minhash_index(spark, SF_ORACLE, grown)
    tomb = _tomb_ids(spark)

    probe = DX._affected_files_frame(spark, grown, tomb)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the index side prunes all the way to the bare id column — the
    # signature and gram-set payload never leave the parquet footer
    assert "struct<_id:bigint>" in plan
    assert "input_file_name" in plan                  # file-granularity probe
    assert "text" not in plan

    affected = DX._affected_index_files(spark, grown, tomb)
    survivors = DX._survivors_frame(spark, grown, affected, tomb)
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "_h0:bigint" in plan and "doc_id" in plan  # payload is read
    assert "text" not in plan


def test_minhash_delete_query_nonvacuous(spark):
    """q_minhash_index_delete_pairs end to end at test SF: the
    post-delete pair set must be non-empty, a STRICT subset of the
    grown (pre-delete) pair set, every removed pair must have a
    tombstoned member, and no surviving pair may touch a tombstone.
    Registry stays untouched (register=False)."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators.dedup import minhash_near_dup_pairs

    DX.clear_dedup_indexes()
    after = {
        (r.id_a, r.id_b)
        for r in all_specs()["q_minhash_index_delete_pairs"]
        .builder(spark, SF_ORACLE)
        .collect()
    }
    d = read_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "text"
    )
    bucket40 = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 40
    )
    clones = d.filter(
        (F.col("source") != DX.BATCH_SOURCE) & bucket40.isin(7, 27)
    ).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.lit(DX.BATCH_SOURCE).alias("source"),
        F.concat(
            F.lit("INSERTED PREFIX BYTES SHIFT EVERYTHING "), F.col("text")
        ).alias("text"),
    )
    aug = d.unionByName(clones)
    before = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            aug, "doc_id", "text", n_hashes=64, bands=32, shingle_k=3,
            threshold=0.5, use_token_ngrams=True, prefilter=False,
        ).collect()
    }
    tomb = {
        r.doc_id + 50_000_000
        for r in d.filter(
            (F.col("source") != DX.BATCH_SOURCE) & (bucket40 == 7)
        ).collect()
    }
    assert after and after < before
    removed = before - after
    assert removed and all(a in tomb or b in tomb for a, b in removed)
    assert all(a not in tomb and b not in tomb for a, b in after)
    assert (
        DX.minhash_index_for(
            SF_ORACLE, n_hashes=64, shingle_k=3, use_token_ngrams=True
        )
        is None
    )


def test_minhash_compact_preserves_frames_and_shrinks_files(spark, tmp_path):
    """Compaction (round-17): after build + append + delete the index
    dir holds one file set per cycle; compact_minhash_index must fold
    them into <= target_files while leaving the LOADED frame
    row-identical — compacted ≡ grown, pinned."""
    import os

    grown = DX.persist_minhash_index(
        spark, SF_ORACLE, path=str(tmp_path / "hist"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE),
    )
    DX.append_minhash_index(spark, SF_ORACLE, grown)
    # A second (disjoint) append cycle: each append may land ONE
    # coalesced part-file (AQE-coalesced write), so two cycles are
    # needed to guarantee >2 files — the test's fold-precondition.
    DX.append_minhash_frames(
        grown,
        spark.createDataFrame(
            [
                (90_000_001, "an appended second cycle document of words"),
                (90_000_002, "another appended second cycle document here"),
            ],
            "doc_id long, text string",
        ),
    )
    DX.delete_from_minhash_index(spark, grown, _tomb_ids(spark))
    before = _frame_sorted(spark, grown)
    n_before = len([f for f in os.listdir(grown.path) if f.startswith("part-")])
    DX.compact_minhash_index(spark, grown, target_files=2)
    after = _frame_sorted(spark, grown)
    assert after == before and after
    parts = [f for f in os.listdir(grown.path) if f.startswith("part-")]
    assert 0 < len(parts) <= 2
    assert n_before > 2  # the compaction had something to fold


def test_nkey_delete_respects_last_owner(spark, tmp_path):
    """The distinct-set subtlety that forced the owner-count ledger:
    two docs share one canonical key; deleting ONE of them must keep
    the key live (a surviving owner remains), deleting the second must
    retire it — and an unrelated key must survive both. Compaction
    folds the ledger without changing the live set."""
    import os

    docs = spark.createDataFrame(
        [
            (1, "Hello,  WORLD!"),
            (2, "hello world"),
            (3, "an entirely different document"),
        ],
        "doc_id long, text string",
    )
    idx = DX.persist_nkey_index(
        spark, SF_ORACLE, path=str(tmp_path / "nk"), register=False, docs=docs
    )

    def live():
        return sorted(
            r.nkey for r in DX.load_nkey_index(spark, idx).collect()
        )

    base = live()
    assert len(base) == 2  # docs 1 and 2 collapse to one key
    DX.delete_from_nkey_index(spark, idx, docs.filter("doc_id = 1"))
    assert live() == base  # shared key still owned by doc 2
    DX.delete_from_nkey_index(spark, idx, docs.filter("doc_id = 2"))
    after = live()
    assert len(after) == 1 and after[0] in base  # last owner gone
    DX.compact_nkey_index(spark, idx)
    assert live() == after
    parts = [f for f in os.listdir(idx.path) if f.startswith("part-")]
    assert len(parts) <= 8


def test_nkey_delete_equals_rebuild_minus_tombstones(spark, tmp_path):
    """On the real corpus: history build + src19 append, then deleting
    a tombstoned doc slice must fold to exactly
    ``history_nkey_index`` over corpus-minus-slice — including keys
    co-owned by surviving docs (the real-data last-owner pin)."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.streaming.pipeline import history_nkey_index

    d = read_table(spark, SF_ORACLE, "documents")
    idx = DX.persist_nkey_index(
        spark, SF_ORACLE, path=str(tmp_path / "nk"), register=False
    )
    DX.append_nkey_index(spark, SF_ORACLE, idx)
    tomb_docs = d.join(
        _tomb_ids(spark).select(F.col("_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    assert tomb_docs.count() > 0
    DX.delete_from_nkey_index(spark, idx, tomb_docs)
    folded = sorted(r.nkey for r in DX.load_nkey_index(spark, idx).collect())
    alive = d.join(
        _tomb_ids(spark).select(F.col("_id").alias("doc_id")),
        "doc_id",
        "left_anti",
    )
    expected = sorted(r.nkey for r in history_nkey_index(alive).collect())
    assert folded == expected and folded


def test_simhash_append_grown_equals_rebuild(spark, tmp_path):
    """Posting rows are per-doc pure functions of (text, layout), so a
    history-built posting index grown by append_simhash_index must be
    row-identical to a full-history build — the MinHash purity
    argument applied to the third index family."""
    grown = DX.persist_simhash_index(
        spark, SF_ORACLE, max_hamming=6, eq_blocks=2,
        path=str(tmp_path / "g"), register=False,
        docs=DX._history_docs(spark, SF_ORACLE).filter("source <> 'src18'"),
    )
    DX.append_simhash_index(spark, SF_ORACLE, grown, batch_source="src18")
    full = DX.persist_simhash_index(
        spark, SF_ORACLE, max_hamming=6, eq_blocks=2,
        path=str(tmp_path / "f"), register=False,
    )
    g = sorted(tuple(r) for r in DX.load_simhash_index(spark, grown).collect())
    f = sorted(tuple(r) for r in DX.load_simhash_index(spark, full).collect())
    assert g == f and g


def test_simhash_append_query_depends_on_the_append(spark):
    """q_simhash_index_append_matches must (a) equal the same probe
    against a REBUILT full-history index (grown == rebuilt at the
    answer level), and (b) LOSE rows when the append is skipped — the
    planted clone↔original matches exist only because src18's postings
    were folded in, so the plant is non-vacuous."""
    from pyspark.sql import functions as F

    from etl_project_spark.catalog import read_table
    from etl_project_spark.streaming.dedup import (
        history_simhash_index,
        stream_simhash_near_dup,
    )

    DX.clear_dedup_indexes()
    got = sorted(
        tuple(r)
        for r in all_specs()["q_simhash_index_append_matches"]
        .builder(spark, SF_ORACLE)
        .collect()
    )
    d = read_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "text"
    )
    clones = d.filter(F.col("source") == "src18").select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.lit(DX.BATCH_SOURCE).alias("source"),
        F.concat(
            F.lit("INSERTED PREFIX BYTES SHIFT EVERYTHING "), F.col("text")
        ).alias("text"),
    )
    aug = d.unionByName(clones)
    probe = aug.filter(F.col("source") == DX.BATCH_SOURCE)

    def run(static_docs):
        return sorted(
            tuple(r)
            for r in stream_simhash_near_dup(
                probe,
                history_simhash_index(static_docs, max_hamming=6, eq_blocks=2),
                max_hamming=6,
                eq_blocks=2,
            ).collect()
        )

    rebuilt = run(aug.filter(F.col("source") != DX.BATCH_SOURCE))
    assert got == rebuilt and got
    without_append = run(
        aug.filter(~F.col("source").isin("src18", DX.BATCH_SOURCE))
    )
    assert set(without_append) < set(got)  # the append owns real rows
    clone_hits = [
        r for r in got if r[0] >= 50_000_000 and r[1] == r[0] - 50_000_000
    ]
    assert clone_hits  # clone ↔ its own original among the appended rows
    assert DX.simhash_index_for(SF_ORACLE, max_hamming=6, eq_blocks=2) is None
