"""Streaming twin of the composed curation pipeline (plans/pipeline.py::
q_curation_pipeline_sharded's incremental shape) — round-14 verdict
task #6.

Continuous-ingestion topology: a crawl batch arrives as a stream, is
deduplicated against the HISTORY corpus's canonical-key index (the
persisted ``nkey`` set, :mod:`etl_project_spark.sources.dedup_index`),
quality-gated by the hashed linear classifier, and shard-assigned. The
batch-mode equivalent (``q_incremental_curation_audit``) is
oracle-backed; equality between the drained stream and the batch plan
is asserted in tests/test_streaming.py.

Design decisions, Spark-first (each one a precedent from this package):

- **The classifier margin is computed STATELESSLY on the stream.** The
  batch plan's ``hashed_margin_agg`` is an explode + per-doc
  aggregation — on a stream that would be a FIRST aggregation, and the
  canonical-key dedup needs a second (illegal chain). But every feature
  of a document lives in its own row, so the margin folds over the
  token ARRAY with ``aggregate``/``transform`` — zero state, exactly
  the ``array_distinct`` trade ``stream_incremental_dedup_scores``
  documents. The arithmetic is EXACT BIGINT (hash-bucket weights, no
  float accumulation), so the array fold and the batch explode-agg are
  bit-identical regardless of order — the property that makes the
  batch/stream equality a fixed fact rather than a tolerance.
- **History dedup is a stream-static LEFT ANTI join** on the canonical
  key — stateless on the stream side; only the matching slice of the
  nkey index is read per micro-batch.
- **Within-stream dedup is the one stateful stage**: update-mode
  ``groupBy(nkey).agg(min_by(payload, doc_id))``. ``min`` is a monoid,
  so the final state equals the batch-global min per key no matter how
  the stream is micro-batched — arrival order cannot change the
  answer, only when it becomes visible.
- **The shard audit is NOT a streaming-legal second aggregate**; it is
  the cheap rollup the consumer runs on the drained/current state
  (:func:`curation_shard_audit`, shared verbatim with the batch plan's
  tail so the two cannot drift).

At 100 TB: the nkey index is the engineered piece (a plain-parquet
owner-count ledger, built once and folded at load); stream state is
one row per distinct arriving nkey, the same cardinality the batch
plan's dedup shuffle carries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Per-feature weight: hashing-trick bucket (md5 -> 4096 buckets) times
#: a Knuth multiplicative constant, mod 2^32 — BIGINT end to end. MUST
#: stay textually in sync with plans/quality.py::hashed_margin_agg and
#: its oracle; the equality test pins all three.
_W_SQL = (
    "(CAST(conv(substring(md5({g}), 1, 15), 16, 10) AS BIGINT) % 4096L)"
    " * 2654435761L % 4294967296L"
)


def curation_doc_state(new_docs: DataFrame) -> DataFrame:
    """Stateless per-document curation projection: ``(doc_id, source,
    n_chars, nkey, n_feats, _sw)`` — canonical key plus the hashed
    classifier's exact-BIGINT (feature count, weight sum), all from the
    document's own row (array folds, no aggregation, no state)."""
    from etl_project_spark.operators.dedup import canonical_nkey

    toks = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    base = new_docs.select(
        "doc_id",
        "source",
        "n_chars",
        canonical_nkey(F.col("text")).alias("nkey"),
        toks.alias("_toks"),
    )
    uni_sw = F.expr(
        f"aggregate(_toks, 0L, (a, t) -> a + {_W_SQL.format(g='t')})"
    )
    bigram = "concat_ws(' ', element_at(_toks, p), element_at(_toks, p + 1))"
    bi_sw = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN"
        " aggregate(sequence(1, size(_toks) - 1), 0L,"
        f" (a, p) -> a + {_W_SQL.format(g=bigram)})"
        " ELSE 0L END"
    )
    n_feats = F.size("_toks") + F.when(
        F.size("_toks") >= 2, F.size("_toks") - 1
    ).otherwise(F.lit(0))
    return base.select(
        "doc_id",
        "source",
        "n_chars",
        "nkey",
        n_feats.cast("long").alias("n_feats"),
        (uni_sw + bi_sw).alias("_sw"),
    )


def history_nkey_index(history_docs: DataFrame) -> DataFrame:
    """Static-side canonical-key index: the DISTINCT ``nkey`` set of the
    history corpus — the frame ``persist_nkey_index``'s owner-count
    ledger FOLDS to (``load_nkey_index``), so served and inflight
    anti-joins are definitionally identical."""
    from etl_project_spark.operators.dedup import canonical_nkey

    return history_docs.select(canonical_nkey(F.col("text")).alias("nkey")).distinct()


def stream_curation_canonicals(
    new_docs: DataFrame, history_nkeys: DataFrame
) -> DataFrame:
    """Streaming canonical-per-nkey state for arriving documents that
    are NOT history duplicates. Run with ``outputMode("update")``; a
    key's row re-emits whenever a smaller doc_id arrives, so the
    consumer's drain rollup takes min per nkey (see module docstring).
    """
    state = curation_doc_state(new_docs).join(
        history_nkeys, "nkey", "left_anti"
    )
    return state.groupBy("nkey").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by(
            F.struct("source", "n_chars", "n_feats", "_sw"), F.col("doc_id")
        ).alias("_p"),
    ).select(
        "nkey",
        "doc_id",
        F.col("_p.source").alias("source"),
        F.col("_p.n_chars").alias("n_chars"),
        F.col("_p.n_feats").alias("n_feats"),
        F.col("_p._sw").alias("_sw"),
    )


def shard_of(doc_id: Column) -> Column:
    """Deterministic 8-way shard — the composed batch pipeline's exact
    expression (plans/pipeline.py::q_curation_pipeline_sharded)."""
    return (
        F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 8
    )


def curation_shard_audit(canonicals: DataFrame) -> DataFrame:
    """Quality gate + shard audit over a canonical-per-nkey frame —
    shared verbatim by the batch plan (``q_incremental_curation_audit``)
    and the stream consumer's drain rollup. The keep decision is the
    pure integer compare (2*sum >= n*2^32), immune to rounding."""
    kept = canonicals.filter(
        F.lit(2) * F.col("_sw")
        >= F.col("n_feats") * F.lit(4294967296).cast("bigint")
    )
    return (
        kept.select(shard_of(F.col("doc_id")).alias("shard"), "n_chars", "source")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )
