"""Streaming twin of incremental dedup (plans/dedup.py::
q_incremental_dedup_new_batch) — round-8 verdict task #7.

The batch×history shape IS the stream-static join: arriving documents
are the stream, the historical gram index is the static side (in
production: the persisted corpus index, refreshed by a slower batch
job). Design decisions, Spark-first:

- **Per-doc distinct grams are computed STATELESSLY.** The batch form
  uses ``dropDuplicates(["_id", "_g"])``; on a stream that operator
  keeps every gram hash in state forever. But gram dedup is per-
  document, and a document's grams all arrive in its own row — so
  ``array_distinct`` over the doc's gram-hash ARRAY before the explode
  gives the same distinct rows with zero state, and the doc's gram-set
  size falls out as ``size(array)`` without a second aggregation.
- **The gram join is stream-static** — stateless on the stream side:
  each matching (batch-doc, history-doc, gram) row flows through
  without watermarks, and only the MATCHING slice of history is read
  (the static side is an ordinary Catalyst plan under the join, so
  pushdown applies per micro-batch).
- **Intersection counts are the one stateful stage**: an update-mode
  ``groupBy(batch_doc, history_doc)`` count. State is bounded by the
  candidate fan-in of in-flight documents, the same bound the batch
  plan's shuffle carries. The per-doc ARGMAX (best match) is NOT a
  streaming-legal second stage (window-after-agg); it is a cheap
  rollup the consumer runs on the drained/current state — exactly how
  the batch query finishes, and what the pytest twin does before
  asserting equality with the batch plan's full output.

At 100 TB the static index is the thing to engineer (bucketed by gram
hash so the per-trigger join avoids a history shuffle); the stream
side shuffles only the arriving batch — the asymmetric-join economics
the batch docstring describes, carried to continuous ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def history_gram_index(history_docs: DataFrame, n: int = 3) -> DataFrame:
    """Static-side index ``(_g, _hid, _szh)``: one row per distinct
    (gram, history doc), carrying the doc's distinct-gram count. The
    history side is STATIC, so it uses the codegen row form
    (:func:`etl_project_spark.operators.dedup.gram_rows_hashed`, 10×
    the array form on a static corpus) with the sizes attached by a
    co-partitioned self-aggregate join. In production this is a
    persisted table bucketed by ``_g`` — ``sources/dedup_index.py``
    persists and serves exactly this frame."""
    from etl_project_spark.operators.dedup import gram_rows_hashed

    hg = gram_rows_hashed(history_docs, n=n, id_out="_hid")
    hsz = hg.groupBy("_hid").agg(F.count(F.lit(1)).alias("_szh"))
    return hg.join(hsz, "_hid").select("_hid", "_szh", "_g")


def stream_incremental_dedup_scores(
    new_docs: DataFrame, history_index: DataFrame, n: int = 3
) -> DataFrame:
    """Streaming candidate scores ``(doc_id, _hid, jac)`` for arriving
    documents against the static history index.

    ``new_docs`` is a STREAMING DataFrame of (doc_id, text, ...);
    ``history_index`` is :func:`history_gram_index`'s static output.
    Run with ``outputMode("update")``; each trigger refreshes the
    scores of documents whose grams arrived. The Jaccard uses the
    identical arithmetic and HALF-UP 4-decimal rounding as the batch
    plan, so the drained scores feed the same argmax rollup.
    """
    from etl_project_spark.operators.dedup import doc_gram_index

    b = doc_gram_index(new_docs, n=n, id_out="doc_id", sz_out="_szb")
    joined = b.join(history_index, "_g")  # stream-static, stateless
    counts = joined.groupBy("doc_id", "_szb", "_hid", "_szh").agg(
        F.count(F.lit(1)).alias("_ix")
    )
    return counts.select(
        "doc_id",
        "_hid",
        F.round(
            F.col("_ix") / (F.col("_szb") + F.col("_szh") - F.col("_ix")), 4
        ).alias("jac"),
    )


# -- SimHash streaming twin (round-10 verdict task #7) ----------------------

def history_simhash_index(
    history_docs: DataFrame,
    *,
    max_hamming: int = 3,
    eq_blocks: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Static-side SimHash posting index ``(_hid, _hsim, _cmask, _key)``
    — one row per (history doc, block-combination), built with the SAME
    layout/posting expressions as the batch self-join
    (:func:`etl_project_spark.operators.dedup.simhash_posting_entries`),
    so stream and history keys collide exactly when the batch plan's
    would. In production this is a persisted table bucketed by
    ``(_cmask, _key)``, refreshed by a slower batch job — the same
    asymmetric-join economics as :func:`history_gram_index`."""
    from etl_project_spark.operators.dedup import (
        simhash_block_layout,
        simhash_fingerprints,
        simhash_posting_entries,
    )

    _, widths, offsets = simhash_block_layout(max_hamming, eq_blocks)
    fp = simhash_fingerprints(history_docs, id_col, text_col)
    entries = simhash_posting_entries(F.col("_sim"), widths, offsets, eq_blocks)
    return fp.select(
        F.col("_id").alias("_hid"),
        F.col("_sim").alias("_hsim"),
        F.explode(F.array(*entries)).alias("_p"),
    ).select(
        "_hid",
        "_hsim",
        F.col("_p.m").alias("_cmask"),
        F.col("_p.k").alias("_key"),
    )


def stream_simhash_near_dup(
    new_docs: DataFrame,
    history_index: DataFrame,
    *,
    max_hamming: int = 3,
    eq_blocks: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming near-dup matches ``(doc_id, match_id, hamming)`` of
    arriving documents against the static history index — the
    stream-static twin of the batch combination-pigeonhole self-join,
    and FULLY STATELESS:

    - **Fingerprinting is a stateless mapInPandas** — the same Arrow
      kernel as the batch path, legal on a stream because a document's
      fingerprint depends only on its own row.
    - **Posting explode + join are stateless**: each arriving doc emits
      its C(k, eq_blocks) posting rows; the equi-join on
      ``(_cmask, _key)`` reads only the matching slice of the static
      index per micro-batch (partition/bucket pruning applies).
    - **The canonical-combo filter replaces dedup state**: a close pair
      collides on many combos, and a streaming ``dropDuplicates`` over
      pairs would hold every emitted pair in state forever. With both
      fingerprints in hand post-join, keeping a row iff its combo is
      the pair's lowest matching one emits each (doc, match) exactly
      once with ZERO state — the same mask compare the batch plan runs.

    Run with ``outputMode("append")``; each doc's matches finalize in
    the trigger its row arrives."""
    from etl_project_spark.operators.dedup import (
        simhash_block_layout,
        simhash_fingerprints,
        simhash_match_mask,
        simhash_posting_entries,
    )

    _, widths, offsets = simhash_block_layout(max_hamming, eq_blocks)
    fp = simhash_fingerprints(new_docs, id_col, text_col)
    entries = simhash_posting_entries(F.col("_sim"), widths, offsets, eq_blocks)
    postings = fp.select(
        "_id",
        "_sim",
        F.explode(F.array(*entries)).alias("_p"),
    ).select(
        "_id",
        "_sim",
        F.col("_p.m").alias("_cmask"),
        F.col("_p.f").alias("_below"),
        F.col("_p.k").alias("_key"),
    )
    joined = postings.join(history_index, ["_cmask", "_key"])  # stream-static
    xor = F.col("_sim").bitwiseXOR(F.col("_hsim"))
    return (
        joined.filter(
            simhash_match_mask(xor, widths, offsets).bitwiseAND(F.col("_below"))
            == F.col("_cmask")
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_hid").alias("match_id"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# -- Repeated-span streaming twin (round 12) --------------------------------

def corpus_dup_gram_index(history_docs: DataFrame, k: int = 5) -> DataFrame:
    """Static-side index ``(_g)``: token-``k``-gram hashes occurring ≥2
    times across the history corpus — the duplicated-gram set of the
    batch repeated-span plan. In production this is a persisted table
    bucketed by ``_g``, refreshed by a slower batch job (the same
    asymmetric-join economics as :func:`history_gram_index`)."""
    from etl_project_spark.operators.dedup import span_gram_rows

    g = span_gram_rows(history_docs, k=k).select(F.col("g").alias("_g"))
    return (
        g.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= 2)
        .select("_g")
    )


def stream_repeated_span_positions(
    new_docs: DataFrame, dup_gram_index: DataFrame, k: int = 5
) -> DataFrame:
    """Duplicated gram positions ``(doc_id, pos)`` of arriving
    documents — the stream-static twin of the batch repeated-span
    detector, FULLY STATELESS:

    - Shingling is per-row (:func:`span_gram_rows` — explode + hash
      projection), streaming-legal with no state.
    - The duplicated-gram lookup is a stream-static LEFT SEMI join: per
      micro-batch only the matching slice of the static index is read,
      and nothing about other stream rows is needed.
    - The gaps-and-islands span merge is doc-LOCAL (a window over one
      document's positions) but window-after-join is not streaming-
      legal — so, exactly like the incremental twin defers its argmax
      rollup, the island merge runs on the drained/current output. The
      hot corpus-sized work (shingle + dup lookup) happens in-stream;
      the rollup touches only the tiny flagged-position set.

    Run with ``outputMode("append")``; a doc's flagged positions
    finalize in the trigger its row arrives."""
    from etl_project_spark.operators.dedup import span_gram_rows

    g = span_gram_rows(new_docs, k=k).select(
        "doc_id", "pos", F.col("g").alias("_g")
    )
    return g.join(dup_gram_index, "_g", "left_semi").select("doc_id", "pos")


def stream_minhash_index_append(arriving: DataFrame, idx, *, checkpoint: str):
    """Index MAINTENANCE as a stream (round-16, the batch
    ``append_minhash_index``'s continuous-ingestion twin): arriving
    document files are signed per micro-batch and appended into the
    persisted MinHash index via ``foreachBatch`` — each epoch's fold
    calls THE SAME ``append_minhash_frames`` write body as the batch
    path, so a drained availableNow run leaves an index bit-identical
    to one batch append over the same rows (asserted in
    tests/test_dedup_index.py).

    Why per-batch signing is CORRECT with zero cross-trigger state: a
    document's grams all derive from its own ``text`` cell, which
    arrives whole in one stream row — so per-doc signatures and
    distinct-gram sets are complete within the micro-batch that
    carries the row, and appends over disjoint doc sets compose to
    exactly the whole-batch append (same per-doc purity argument as
    ``batch_minhash_frame``). No watermark, no state store; the only
    stateful thing is the source's file-position checkpoint.

    Exactly-once seam, stated plainly: plain parquet append has no
    transactional manifest, so an epoch RETRY after a mid-write crash
    could leave a partial double-append (same single-writer seam the
    batch path documents — a real deployment commits each epoch behind
    a Delta/Iceberg manifest). ``trigger(availableNow=True)`` + the
    checkpoint models the one-maintenance-stream topology.

    Returns the started StreamingQuery; caller awaits termination.
    """
    from etl_project_spark.sources.dedup_index import append_minhash_frames

    def _fold(batch_df: DataFrame, _epoch_id: int) -> None:
        append_minhash_frames(idx, batch_df)

    return (
        arriving.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
