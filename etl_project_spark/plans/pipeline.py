"""Flagship pipeline-shaped query (SURVEY.md §7.1).

Re-expresses the reference's whole dataflow — two source scans → union
→ dedup → conditional enrichment → sink (flows/etl.py:289-311) — as
ONE lazy Catalyst plan over the driver corpus:

    two filtered customer segment scans   ≙ S2/S4 (etl.py:92-183)
      → unionByName                       ≙ T1    (etl.py:304)
      → dropDuplicates (full row)         ≙ T2    (etl.py:304)
      → when(...) tier enrichment         ≙ T4+T6 (etl.py:206-239)
      → join orders + aggregate           (analytics head)

Scale notes: both segment scans push their predicate into the parquet
scan; the full-row dropDuplicates is a hash aggregate on the union
(map-side partial combine, no sort); the customer→orders join shuffles
on the key — at 100 TB, AQE picks broadcast if the deduped segment
stays small, else a shuffle join partitioned on c_custkey/o_custkey.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_project_spark.catalog import read_table
from etl_project_spark.plans.registry import register
from etl_project_spark.session import tune_session

_ORACLE = """
WITH u AS (
  SELECT DISTINCT * FROM (
    SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT * FROM customer WHERE c_acctbal > 1000.0
  )
), e AS (
  SELECT *,
         CASE WHEN c_acctbal < 0 THEN 'DEBT'
              WHEN c_acctbal < 5000 THEN 'STANDARD'
              ELSE 'PREMIUM' END AS acct_tier
  FROM u
)
SELECT e.acct_tier,
       o.o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS total_revenue,
       COUNT(DISTINCT e.c_custkey) AS n_customers
FROM e JOIN orders o ON e.c_custkey = o.o_custkey
GROUP BY e.acct_tier, o.o_orderstatus
"""


def build_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")

    seg_building = customer.filter(F.col("c_mktsegment") == "BUILDING")
    seg_rich = customer.filter(F.col("c_acctbal") > 1000.0)

    # Overlapping rows are bit-identical (same source row), so full-row
    # dedup is deterministic — mirrors pd.concat(...).drop_duplicates()
    # at flows/etl.py:304.
    unioned = seg_building.unionByName(seg_rich).dropDuplicates()

    enriched = unioned.withColumn(
        "acct_tier",
        F.when(F.col("c_acctbal") < 0, F.lit("DEBT"))
        .when(F.col("c_acctbal") < 5000, F.lit("STANDARD"))
        .otherwise(F.lit("PREMIUM")),
    )

    return (
        enriched.join(orders, enriched.c_custkey == orders.o_custkey)
        .groupBy("acct_tier", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


register(
    "pipeline_flagship",
    oracle=_ORACLE,
    doc="scan→union→dedup→enrich→join→agg in one plan (≙ flows/etl.py:289-311)",
    tags=("pipeline", "flagship"),
)(build_flagship)


_CORPUS_ORACLE = """
WITH norm AS (
  SELECT doc_id, lang, source,
         TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')) AS t
  FROM documents
  WHERE n_chars >= 200
), dedup AS (
  SELECT doc_id, lang, source, t,
         ROW_NUMBER() OVER (PARTITION BY t ORDER BY doc_id) AS rn
  FROM norm
), kept AS (
  SELECT * FROM dedup WHERE rn = 1 AND source <> 'src0'
), clean AS (
  SELECT k.* FROM kept k
  WHERE NOT EXISTS (SELECT 1 FROM norm b WHERE b.source = 'src0' AND b.t = k.t)
), sampled AS (
  SELECT * FROM clean
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        < CASE lang WHEN 'en' THEN 50 ELSE 25 END
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(t) - LENGTH(REPLACE(t, ' ', '')) + 1) AS BIGINT) AS total_tokens
FROM sampled
GROUP BY lang, source
"""


@register(
    "q_training_corpus_pipeline",
    oracle=_CORPUS_ORACLE,
    tags=("pipeline", "llm", "dedup", "decontamination", "sample"),
)
def q_training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus construction, end to end, as ONE lazy plan:

        quality gate (n_chars ≥ 200)
          → normalize (lower + whitespace collapse)
          → exact dedup (keep min doc_id per normalized text)
          → benchmark decontamination (drop docs whose text appears
            in the 'src0' benchmark slice; drop the slice itself)
          → stratified md5-bucket sample (en 50%, others 25%)
          → per-(lang, source) doc + whitespace-token budget

    The deterministic composite of the individually-tested stages —
    fully oracle-checked (the LSH near-dup stages live in their own
    queries; their candidate generation is not SQL-expressible).
    Scale shape: the quality gate and normalization ride the scan; the
    dedup window and the decontamination anti-join both hash-shuffle
    on the normalized text (pre-hash to int64 if the strings are
    long); the sample is a map-side filter; the final agg is tiny.
    """
    tune_session(spark)
    d = read_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    norm = d.filter(F.col("n_chars") >= 200).select(
        "doc_id",
        "lang",
        "source",
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("t"),
    )
    rn = F.row_number().over(W.partitionBy("t").orderBy("doc_id"))
    kept = (
        norm.withColumn("rn", rn)
        .filter((F.col("rn") == 1) & (F.col("source") != "src0"))
        .drop("rn")
    )
    bench = norm.filter(F.col("source") == "src0").select("t").distinct()
    clean = kept.join(bench, "t", "left_anti")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    keep_pct = F.when(F.col("lang") == "en", 50).otherwise(25)
    sampled = clean.filter(bucket < keep_pct)
    tokens = F.size(F.split(F.col("t"), " ")).cast("bigint")
    return sampled.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens).alias("total_tokens"),
    )


@register(
    "q_train_val_test_split",
    oracle="""
WITH tagged AS (
  SELECT lang, n_chars,
         CASE WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80
              THEN 'train'
              WHEN CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90
              THEN 'val' ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM tagged GROUP BY split, lang
""",
    tags=("pipeline", "llm", "split", "deterministic"),
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by key hash.

    Holdout assignment must be a pure function of a stable key — not
    row order, not an RNG — so re-runs, backfills, and other engines
    agree on which side every document lands. Same md5-bucket idiom as
    `q_hash_sample_documents`, three-way. The assignment itself is a
    map-side expression (no shuffle); only the audit aggregate
    shuffles, on the tiny (split, lang) key space.
    """
    tune_session(spark)
    d = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "q_mixture_resample",
    oracle="""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
), tot AS (
  SELECT SUM(n_lang) AS n_total, COUNT(*) AS n_langs FROM counts
), rates AS (
  SELECT c.lang, c.n_lang,
         LEAST(1.0, (CAST(t.n_total AS DOUBLE) / t.n_langs) / c.n_lang) AS rate
  FROM counts c CROSS JOIN tot t
), kept AS (
  SELECT d.lang
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE CAST(('0x' || SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
        < CAST(FLOOR(r.rate * 1000000) AS BIGINT)
)
SELECT r.lang, CAST(r.n_lang AS BIGINT) AS n_before,
       CAST(COUNT(k.lang) AS BIGINT) AS n_after,
       ROUND(r.rate, 6) AS target_rate
FROM rates r LEFT JOIN kept k ON k.lang = r.lang
GROUP BY r.lang, r.n_lang, r.rate
""",
    tags=("pipeline", "llm", "sample", "mixture"),
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample each language toward a uniform target mixture.

    The mixture-balancing step of corpus construction: compute each
    language's share, derive a deterministic per-language acceptance
    rate toward equal shares (capped at 1.0 — never up-sample), and
    keep documents whose md5 bucket falls under the rate. The rate
    table is rows-per-distinct-lang — broadcast by AQE — so the only
    full-data operations are one aggregate for counts and one map-side
    hash filter; the rate quantizes to millionths so both engines
    compare identical integers, not raw doubles.
    """
    tune_session(spark)
    d = read_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    tot = counts.agg(
        F.sum("n_lang").alias("n_total"), F.count(F.lit(1)).alias("n_langs")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_lang",
        F.least(
            F.lit(1.0),
            (F.col("n_total").cast("double") / F.col("n_langs")) / F.col("n_lang"),
        ).alias("rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 1_000_000
    )
    kept = (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        # Explicit floor on BOTH sides: Spark's double→bigint cast
        # truncates but DuckDB's CAST rounds-to-nearest — without the
        # shared FLOOR the two engines disagree on the acceptance
        # threshold whenever frac(rate*1e6) >= 0.5.
        .filter(bucket < F.floor(F.col("rate") * 1_000_000).cast("bigint"))
        .select("lang")
    )
    kept_counts = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after_raw"))
    return (
        rates.join(kept_counts, "lang", "left")
        .select(
            "lang",
            F.col("n_lang").alias("n_before"),
            F.coalesce(F.col("n_after_raw"), F.lit(0)).alias("n_after"),
            F.round("rate", 6).alias("target_rate"),
        )
    )


@register(
    "q_curation_pipeline_sharded",
    oracle="""
WITH norm AS (
  SELECT doc_id, source, n_chars, text,
         MD5(TRIM(regexp_replace(regexp_replace(LOWER(text),
             '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g'))) AS nkey
  FROM documents
), survivors AS (
  SELECT doc_id, source, n_chars, text FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY nkey ORDER BY doc_id) AS rn
    FROM norm
  ) WHERE rn = 1
), toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text),
             '\\s+', ' ', 'g')), ' ') AS t
  FROM survivors
), feats AS (
  SELECT doc_id, u.g FROM toks, UNNEST(t) AS u(g)
  UNION ALL
  SELECT doc_id, array_to_string(t[p : p + 1], ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(p)
  WHERE len(t) >= 2
), agg AS (
  SELECT doc_id, COUNT(*) AS n_feats,
         SUM(((CAST(('0x' || SUBSTR(MD5(g), 1, 15)) AS BIGINT) % 4096)
               * 2654435761) % 4294967296) AS sw
  FROM feats GROUP BY doc_id
), scored AS (
  SELECT s.doc_id, s.source, s.n_chars,
         1.0 * s.n_chars / len(t.t) AS score
  FROM survivors s
  JOIN toks t ON t.doc_id = s.doc_id
  JOIN agg a ON a.doc_id = s.doc_id
  WHERE 2 * a.sw >= a.n_feats * 4294967296
), ranked AS (
  SELECT *, PERCENT_RANK() OVER (
      PARTITION BY source ORDER BY score, doc_id) AS pr
  FROM scored
)
SELECT CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8
         AS shard,
       COUNT(*) AS n_docs,
       SUM(n_chars) AS total_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM ranked
WHERE pr >= 0.5
GROUP BY shard
""",
    tags=("pipeline", "curation", "composition"),
)
def q_curation_pipeline_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composing the round-13 operators
    into one lazy Catalyst plan — what a pretraining data run actually
    executes between raw crawl and shard files:

        canonicalized exact dedup (keep min doc_id per normalized key)
          -> hashed-linear quality gate  (keep margin >= 0)
          -> per-source median filter    (percent_rank >= 0.5)
          -> deterministic 8-way shard assignment + per-shard audit

    Every stage reuses the standalone operator's exact arithmetic
    (plans/quality.py::hashed_margin_agg is literally shared), so this
    query proves the stages COMPOSE: survivors of one feed the next
    with no re-read, one plan, one pass over the text per stage that
    needs it.

    Scale shape: dedup shuffles digests, the classifier shuffles
    (doc_id, bigint) feature rows, the quantile window shuffles
    (source, score) — the text column is consumed map-side in the
    stages that tokenize and never crosses an exchange. The final
    aggregate has exactly 8 groups. The whole plan is a DAG with four
    shuffles, no collect, no iteration."""
    from etl_project_spark.plans.quality import hashed_margin_agg
    from etl_project_spark.session import scoped_persist
    from pyspark.sql import Window as W

    tune_session(spark)
    d = read_table(spark, sf_dir, "documents")
    from etl_project_spark.operators.dedup import canonical_nkey

    nkey = canonical_nkey(F.col("text"))
    rn = F.row_number().over(W.partitionBy("nkey").orderBy("doc_id"))
    # persist: three consumers (the classifier's unigram and bigram
    # branches plus the scoring projection) would otherwise each
    # recompute the dedup window — measured 62.5 s -> the sum of the
    # stage costs at sf10 once the stage boundary materializes. At
    # 100 TB this boundary is a checkpoint/parquet write between
    # pipeline stages; MEMORY_AND_DISK is its single-job stand-in.
    survivors = scoped_persist(
        d.select("doc_id", "source", "n_chars", "text", nkey.alias("nkey"))
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_chars", "text")
    )
    from etl_project_spark.plans.quality import chars_per_token_score

    agg = hashed_margin_agg(survivors)
    scored = (
        survivors.select(
            "doc_id",
            "source",
            "n_chars",
            chars_per_token_score(F.col("n_chars"), F.col("text")).alias("score"),
        )
        .join(agg, "doc_id")
        .filter(
            F.lit(2) * F.col("_sw")
            >= F.col("n_feats") * F.lit(4294967296).cast("bigint")
        )
    )
    pr = F.percent_rank().over(W.partitionBy("source").orderBy("score", "doc_id"))
    final = scored.withColumn("pr", pr).filter(F.col("pr") >= 0.5)
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 8
    )
    return (
        final.select(shard.alias("shard"), "n_chars", "source")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )


#: Shared by the inflight and the nkey-indexed incremental-curation
#: queries: the indexed form consumes a persisted parquet copy of the
#: SAME ``history_nkey_index`` frame, so both return the identical
#: per-shard audit by construction — one SQL twin checks both (the
#: q_knn_ivf_indexed_topk / q_minhash_indexed_pairs precedent).
_INCR_CURATION_ORACLE = """
WITH batch AS (
  SELECT doc_id, source, n_chars, text,
         MD5(TRIM(regexp_replace(regexp_replace(LOWER(text),
             '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g'))) AS nkey
  FROM documents WHERE source = 'src19'
), hist AS (
  SELECT DISTINCT MD5(TRIM(regexp_replace(regexp_replace(LOWER(text),
             '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g'))) AS nkey
  FROM documents WHERE source <> 'src19'
), canon AS (
  SELECT doc_id, source, n_chars, text FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY nkey ORDER BY doc_id) AS rn
    FROM batch WHERE nkey NOT IN (SELECT nkey FROM hist)
  ) WHERE rn = 1
), toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text),
             '\\s+', ' ', 'g')), ' ') AS t
  FROM canon
), feats AS (
  SELECT doc_id, u.g FROM toks, UNNEST(t) AS u(g)
  UNION ALL
  SELECT doc_id, array_to_string(t[p : p + 1], ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(p)
  WHERE len(t) >= 2
), agg AS (
  SELECT doc_id, COUNT(*) AS n_feats,
         SUM(((CAST(('0x' || SUBSTR(MD5(g), 1, 15)) AS BIGINT) % 4096)
               * 2654435761) % 4294967296) AS sw
  FROM feats GROUP BY doc_id
)
SELECT CAST(('0x' || SUBSTR(MD5(CAST(c.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8
         AS shard,
       COUNT(*) AS n_docs,
       SUM(c.n_chars) AS total_chars,
       CAST(COUNT(DISTINCT c.source) AS BIGINT) AS n_sources
FROM canon c JOIN agg a ON a.doc_id = c.doc_id
WHERE 2 * a.sw >= a.n_feats * 4294967296
GROUP BY shard
"""


@register(
    "q_incremental_curation_audit",
    oracle=_INCR_CURATION_ORACLE,
    tags=("pipeline", "curation", "incremental", "dedup"),
)
def q_incremental_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation — the continuous-ingestion shape of
    ``q_curation_pipeline_sharded``: the arriving crawl batch (source
    ``src19``, the incremental-dedup convention) is canonical-key
    deduplicated WITHIN ITSELF (min doc_id per nkey) and AGAINST the
    history corpus's nkey set, quality-gated by the hashed linear
    classifier, then shard-assigned and audited per shard.

    The history side is servable from the persisted canonical-key
    index (:mod:`etl_project_spark.sources.dedup_index`): a session
    that ran ``persist_nkey_index`` answers repeat batches without
    re-canonicalizing history. The streaming twin
    (:mod:`etl_project_spark.streaming.pipeline`) consumes the
    identical static frame; its drained state feeds the SAME
    ``curation_shard_audit`` rollup this plan ends with, so batch and
    stream cannot drift (equality pinned in tests/test_streaming.py).

    Scale shape: the anti-join shuffles (nkey) on both sides; dedup
    shuffles digests; the classifier shuffles (doc_id, bigint) feature
    rows; the audit has ≤ 8 groups. The text column never crosses an
    exchange.
    """
    from etl_project_spark.sources.dedup_index import (
        BATCH_SOURCE,
        NkeyIndex,
        index_for,
        load_nkey_index,
    )
    from etl_project_spark.streaming.pipeline import history_nkey_index

    tune_session(spark)
    d = read_table(spark, sf_dir, "documents")
    idx = index_for(NkeyIndex, sf_dir)
    hist = (
        load_nkey_index(spark, idx)
        if idx is not None
        else history_nkey_index(d.filter(F.col("source") != BATCH_SOURCE))
    )
    return _incremental_audit_from_history(spark, sf_dir, hist)


def _incremental_audit_from_history(
    spark: SparkSession, sf_dir: str, hist: DataFrame
) -> DataFrame:
    """The batch side of the incremental curation audit, parameterized
    on WHERE the history nkey set comes from (inflight rebuild,
    registered serving index, or a caller-scoped persisted copy) —
    one plan body so the three entry points cannot drift."""
    from pyspark.sql import Window as W

    from etl_project_spark.operators.dedup import canonical_nkey
    from etl_project_spark.plans.quality import hashed_margin_agg
    from etl_project_spark.sources.dedup_index import BATCH_SOURCE
    from etl_project_spark.streaming.pipeline import curation_shard_audit

    d = read_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("source") == BATCH_SOURCE).select(
        "doc_id", "source", "n_chars", "text",
        canonical_nkey(F.col("text")).alias("nkey"),
    )
    rn = F.row_number().over(W.partitionBy("nkey").orderBy("doc_id"))
    canon = (
        batch.join(hist, "nkey", "left_anti")
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_chars", "text")
    )
    # Examined r17, left alone: canon feeds the featurizer AND the
    # join-back (the canonicalization + anti-join + window subtree runs
    # twice), but persisting+materializing it MEASURED SLOWER across 5
    # interleaved cross-checkout sessions (~1.4 s recompute vs ~1.9-2.2
    # s cached at sf0.1 for both entries) — the cache job beats the
    # doubled batch-bounded subtree only on paper here.
    canonicals = canon.join(hashed_margin_agg(canon), "doc_id").select(
        "doc_id", "source", "n_chars", "n_feats", "_sw"
    )
    return curation_shard_audit(canonicals)


@register(
    "q_nkey_indexed_curation_audit",
    oracle=_INCR_CURATION_ORACLE,
    tags=("pipeline", "curation", "incremental", "dedup", "index"),
)
def q_nkey_indexed_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation audit served from a MATERIALIZED history
    canonical-key index (round-14 verdict #3): build (or rebuild) the
    persisted nkey parquet with ``persist_nkey_index``, then run the
    SAME batch-side plan against it — the history corpus is never
    re-canonicalized. This is the steady-state shape of continuous
    ingestion at 100 TB: the history nkey set changes only when
    batches are folded in, so every arriving batch anti-joins a
    build-once parquet instead of re-scanning and re-hashing the full
    corpus.

    The build is part of the query so the registry entry is
    self-contained and deterministic; ``register=False`` keeps it
    caller-scoped so running this query never flips the process-local
    serving switch under the inflight twin (see
    ``q_minhash_indexed_pairs``). Same oracle as
    ``q_incremental_curation_audit`` — the persisted frame is written
    by the shared ``history_nkey_index`` builder, so the two paths
    return the identical per-shard audit by construction; the
    history-scan-free property of the served plan is asserted in
    tests/test_dedup_index.py.

    Per-(context, corpus-abspath) unique dir for the same
    overwrite-race reason as the IVF/PQ/MinHash indexed queries
    (``query_scoped_index_dir``, ADVICE r15).
    """
    from etl_project_spark.sources.dedup_index import (
        load_nkey_index,
        persist_nkey_index,
        query_scoped_index_dir,
    )

    tune_session(spark)
    path = query_scoped_index_dir(spark, "nkey", sf_dir)
    idx = persist_nkey_index(spark, sf_dir, path=path, register=False)
    return _incremental_audit_from_history(
        spark, sf_dir, load_nkey_index(spark, idx)
    )


@register(
    "q_nkey_index_append_audit",
    oracle=_INCR_CURATION_ORACLE,
    tags=("pipeline", "curation", "incremental", "dedup", "index"),
)
def q_nkey_index_append_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation audit against an INCREMENTALLY GROWN nkey
    index — the maintenance twin of ``q_nkey_indexed_curation_audit``
    (round-15 verdict #1, nkey side): the persisted canonical-key set
    is built over the OLDER history only (every source except the two
    most recent crawls), the previously-arrived ``src18`` batch is
    then folded in by ``append_nkey_index`` — which canonicalizes ONLY
    that batch and blind-appends its ``(nkey, +owners)`` ledger rows,
    never re-reading history text (or even the index: the ledger
    format made the r16 anti-join unnecessary) — and the arriving
    ``src19`` batch is audited against the grown index.

    Because the nkey index is a distinct SET at the consumer level
    (unlike the per-doc MinHash frames), the persisted owner-count
    ledger is folded at load (``SUM(_n) > 0``); the folded grown set
    equals ``history_nkey_index`` over
    the full history exactly, so this query returns the identical
    per-shard audit as the inflight and rebuild forms and shares their
    oracle verbatim. This is the fold-in step a continuous-ingestion
    deployment runs after each batch commits: the index grows by
    O(batch-new-keys) per cycle while every audit keeps anti-joining a
    build-once parquet.
    """
    from etl_project_spark.sources.dedup_index import (
        BATCH_SOURCE,
        append_nkey_index,
        load_nkey_index,
        persist_nkey_index,
        query_scoped_index_dir,
    )

    tune_session(spark)
    path = query_scoped_index_dir(spark, "nkey_append", sf_dir)
    d = read_table(spark, sf_dir, "documents")
    older = d.filter(
        (F.col("source") != BATCH_SOURCE) & (F.col("source") != "src18")
    )
    idx = persist_nkey_index(
        spark, sf_dir, path=path, register=False, docs=older
    )
    append_nkey_index(spark, sf_dir, idx, batch_source="src18")
    return _incremental_audit_from_history(
        spark, sf_dir, load_nkey_index(spark, idx)
    )
