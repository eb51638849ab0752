"""Deduplication queries over ``documents`` and ``embeddings``.

EVERY query here is oracle-checked, including the approximate LSH
families: MinHash via subset+exact-verify with analytic-recall-≈1
banding, SimHash via pigeonhole-complete blocking, embedding near-dup
via a planted-twin corpus whose exact pair set is non-empty and
SQL-computable, and the connected-component / canonical-pick stages
via DuckDB recursive CTEs. Property tests in tests/test_dedup.py
additionally guard the operators on corpus-independent fixtures
(dedup output ⊆ input, pair ordering id_a < id_b, LSH candidates ⊇
high-similarity pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_project_spark.catalog import read_table
from etl_project_spark.operators import dedup as DD
from etl_project_spark.plans.registry import register
from etl_project_spark.session import tune_session


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return read_table(spark, sf_dir, name)


@register(
    "q_exact_dedup_documents",
    oracle="""
SELECT text, CAST(MIN(doc_id) AS BIGINT) AS doc_id
FROM documents
GROUP BY text
""",
    tags=("dedup",),
)
def q_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact full-text dedup keeping the smallest doc_id per text."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))


@register(
    "q_key_dedup_orders_latest",
    oracle="""
SELECT o_custkey,
       CAST(MAX(o_orderkey) AS BIGINT) AS latest_orderkey,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
""",
    tags=("dedup", "agg"),
)
def q_key_dedup_orders_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based dedup shape: one representative row per key (argmax)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max("o_orderkey").alias("latest_orderkey"),
        F.count(F.lit(1)).alias("n_orders"),
    )


#: Exact word-3-gram Jaccard >= 0.5 pair set — shared by the inflight
#: and the indexed MinHash queries: both must return the identical
#: (id_a, id_b, jaccard_sim) rows by construction (same signing
#: builder, same banding, same exact verify), so one SQL twin checks
#: both, the q_knn_ivf_indexed_topk precedent.
_MINHASH_PAIRS_ORACLE = """
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.id_a, s.id_b,
       ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) AS jaccard_sim
FROM shared s
JOIN sizes sa ON s.id_a = sa.doc_id
JOIN sizes sb ON s.id_b = sb.doc_id
WHERE ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) >= 0.5
"""

#: The incremental-probe twin: the SAME gram/verify semantics over an
#: AUGMENTED corpus (documents ∪ planted prefix-insertion clones of a
#: deterministic 5% md5-slice of history, ids +50M, tagged src19 — the
#: q_cdc_incremental_chunk_dedup planting convention, needed because
#: the natural src19 batch has zero near-dups against the corpus and
#: an unplanted probe oracle would be a vacuous 0=0 match, the round-1
#: lesson), restricted to pairs with >= 1 batch member. Derived from
#: the shared constant by string surgery (WITH-head splice + the one
#: FROM swap + the WHERE restriction) so the gram normalization and
#: the verify arithmetic can never drift between the two oracles.
# Import-time pins for the string-surgery assumptions (ADVICE r16):
# the splice below relies on the base oracle starting with WITH,
# containing exactly ONE "FROM documents" (the norm CTE), and ending
# in the WHERE clause a restriction tail can extend with AND. Any
# future edit to the base oracle that breaks one of these (a second
# documents read, an ORDER BY tail, a leading comment) must fail
# loudly here, not as a confusing parity mismatch three rounds later.
assert _MINHASH_PAIRS_ORACLE.lstrip().startswith("WITH"), (
    "minhash pairs oracle no longer starts with WITH; "
    "the aug-corpus splice below would produce malformed SQL"
)
assert _MINHASH_PAIRS_ORACLE.count("FROM documents") == 1, (
    "minhash pairs oracle reads documents more than once; the "
    "single FROM swap below would leave a stray unaugmented read"
)
assert _MINHASH_PAIRS_ORACLE.rstrip().endswith(">= 0.5"), (
    "minhash pairs oracle no longer ends in its WHERE clause; the "
    "AND restriction tail below would be malformed"
)


def _aug_pairs_oracle(bucket_mod: int, bucket_val: int, where_tail: str = "") -> str:
    """The shared pair SQL over an AUGMENTED corpus: documents ∪
    planted prefix-insertion clones of the deterministic md5-slice
    ``doc_id-bucket % bucket_mod == bucket_val`` of history (ids +50M,
    tagged src19 — the ``q_cdc_incremental_chunk_dedup`` planting
    convention). Built by string surgery on ``_MINHASH_PAIRS_ORACLE``
    (WITH-head splice + the one FROM swap + an optional WHERE tail) so
    the gram normalization and verify arithmetic can never drift
    between the whole-corpus, batch-probe, and post-delete oracles;
    the surgery's assumptions are pinned at import above."""
    spliced = (
        _MINHASH_PAIRS_ORACLE.lstrip()
        .removeprefix("WITH")
        .replace("FROM documents", "FROM aug", 1)
        .rstrip()
    )
    assert "FROM aug" in spliced and "FROM documents" not in spliced
    return (
        f"""
WITH aug AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 50000000 AS doc_id, 'src19' AS source,
         'INSERTED PREFIX BYTES SHIFT EVERYTHING ' || text AS text
  FROM documents
  WHERE source <> 'src19'
    AND CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % {bucket_mod} = {bucket_val}
),"""
        + spliced
        + where_tail
    )


_MINHASH_BATCH_PROBE_ORACLE = _aug_pairs_oracle(
    20,
    7,
    """
  AND (s.id_a IN (SELECT doc_id FROM aug WHERE source = 'src19')
    OR s.id_b IN (SELECT doc_id FROM aug WHERE source = 'src19'))
""",
)

#: The post-DELETE twin (round-16 verdict #1): the identical pair SQL
#: over the augmented corpus AFTER tombstoning half the planted clones.
#: The Spark side plants bucket20==7 clones, appends them as the
#: batch, then deletes the bucket40==7 sub-slice from the grown index;
#: bucket20==7 splits exactly into bucket40∈{7,27}, so the surviving
#: corpus IS documents ∪ clones(bucket40==27) — which lets the oracle
#: state the post-delete world directly instead of replaying the
#: delete, keeping it pure ANSI SQL over the base tables. Non-vacuous
#: by construction: both the deleted and the surviving clone slices
#: own (original, clone) pairs, so the delete visibly shrinks the
#: answer (pinned in tests/test_dedup_index.py).
_MINHASH_DELETE_ORACLE = _aug_pairs_oracle(40, 27)


@register(
    "q_minhash_near_dup_pairs",
    oracle=_MINHASH_PAIRS_ORACLE,
    tags=("dedup", "lsh"),
)
def q_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, word-3-gram Jaccard ≥ 0.5.

    Word n-grams, not char shingles: background char-5-gram Jaccard of
    prose runs ~0.2 (shared vocabulary), which floods LSH banding with
    noise-floor candidates at any realistic threshold; word-3-gram
    background is ~0.01 while true near-dups stay ≥0.5.

    ORACLE-BACKED despite the probabilistic candidate stage: output =
    (LSH candidates) ∩ (exact-Jaccard ≥ 0.5 verify), so it is always a
    SUBSET of the exact pair set — and with 32 bands × 2 rows the
    any-band collision probability at jaccard exactly 0.5 is
    1-(1-0.25)^32 ≈ 0.9999, with true near-dups sitting well above the
    threshold. The hash family is seedless/deterministic, so on a
    fixed corpus equality with the exact inverted-index SQL is a fixed
    fact, verified at sf0.001/0.01/0.1 (keys AND values) — a recall
    miss would surface as a hard hash-compare failure, not flake.
    Wider banding trades ~2× band-join rows for that guarantee; the
    recall-vs-bruteforce property test in tests/test_dedup.py guards
    the family independently of corpus.
    """
    from etl_project_spark.sources.dedup_index import (
        MinHashIndex,
        index_for,
        load_minhash_index,
    )

    d = _t(spark, sf_dir, "documents")
    # Serving amortization (round-14, the gram/SimHash index
    # precedent): a session that has run ``persist_minhash_index``
    # answers repeat sweeps from the persisted per-document frame
    # and skips the signing pass entirely. No registration (the
    # driver's correctness runs) → the self-contained inflight path.
    idx = index_for(
        MinHashIndex, sf_dir, n_hashes=64, shingle_k=3, use_token_ngrams=True
    )
    signed = load_minhash_index(spark, idx) if idx is not None else None
    return DD.minhash_near_dup_pairs(
        d, "doc_id", "text", n_hashes=64, bands=32, shingle_k=3,
        threshold=0.5, use_token_ngrams=True, prefilter=False, signed=signed,
    )


@register(
    "q_minhash_indexed_pairs",
    oracle=_MINHASH_PAIRS_ORACLE,
    tags=("dedup", "lsh", "index"),
)
def q_minhash_indexed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs served from a MATERIALIZED signing index
    — the q_knn_ivf_indexed_topk pattern applied to dedup (round-14
    verdict #3): build (or rebuild) the persisted per-document
    signature + gram-set parquet frame with ``persist_minhash_index``, then
    answer the SAME banding + exact-verify query from them via
    ``signed=``, skipping the shingle explode and the 64-way min
    aggregation entirely — the dominant cost of the inflight query
    (394–604 s of its sf10 runtime) and exactly the pass a 100 TB
    incremental pipeline pays once per corpus, not once per sweep.

    The build is part of the query so the registry entry is
    self-contained and deterministic; in production the build runs
    once and probes amortize it (measured 2.1× steady / 2.8× cold on
    repeat sweeps, BASELINE.md round 14). ``register=False`` keeps the
    build caller-scoped: running this query never flips the
    process-local serving switch, so the inflight twin's timing series
    stays a measurement of the inflight plan. Same oracle as
    ``q_minhash_near_dup_pairs`` — the served path returns the
    identical pair set by construction (same ``minhash_sig_rows``
    builder wrote the index), so one SQL twin checks both; the
    no-documents-scan property is asserted in
    tests/test_dedup_index.py.

    The index lands in a per-(context, corpus-abspath) unique dir that
    the context's end removes (the IVF precedent's race note, hardened
    per ADVICE r15 — ``query_scoped_index_dir``): a path shared across
    processes raced — one session's overwrite deleting part-files under
    another's probe scan.
    """
    from etl_project_spark.sources.dedup_index import (
        load_minhash_index,
        persist_minhash_index,
        query_scoped_index_dir,
    )

    path = query_scoped_index_dir(spark, "minhash", sf_dir)
    idx = persist_minhash_index(
        spark, sf_dir, n_hashes=64, shingle_k=3, use_token_ngrams=True,
        path=path, register=False,
    )
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_near_dup_pairs(
        d, "doc_id", "text", n_hashes=64, bands=32, shingle_k=3,
        threshold=0.5, use_token_ngrams=True, prefilter=False,
        signed=load_minhash_index(spark, idx),
    )


@register(
    "q_minhash_index_append_pairs",
    oracle=_MINHASH_PAIRS_ORACLE,
    tags=("dedup", "lsh", "index", "incremental"),
)
def q_minhash_index_append_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs served from an INCREMENTALLY GROWN index
    — the maintenance path `q_minhash_indexed_pairs` was missing
    (round-15 verdict #1, the last 100 TB operator class): the
    persisted index is built over the HISTORY corpus only (every
    source except the arriving batch, the ``src19`` incremental
    convention), the batch is then signed IN ISOLATION and APPENDED
    into the per-document index parquet
    (``append_minhash_index``), and the banding + exact-verify probe
    runs against the grown index.

    This is the steady-state economics of continuous ingestion at
    100 TB: history is signed once, each arriving batch pays O(batch)
    signing + an append write — never the O(corpus) re-sign the
    rebuild form pays per run. The grown index is bit-identical to a
    whole-corpus rebuild (signatures are per-document pure functions
    of text and doc_id is unique corpus-wide — see
    ``batch_minhash_frame``), so this query returns EXACTLY the
    whole-corpus pair set and shares ``q_minhash_near_dup_pairs``'s
    oracle verbatim. The signs-only-the-batch property (the append
    job's one documents scan carries the pushed ``source = src19``
    filter; history text is never re-read) is asserted in
    tests/test_dedup_index.py.

    Build + append + probe all inside the query so the registry entry
    is self-contained and deterministic; ``register=False`` keeps the
    index caller-scoped (the inflight twin's timing series stays
    inflight — see ``q_minhash_indexed_pairs``). Same
    per-(context, corpus-abspath) dir contract; append-vs-rebuild
    economics are measured in BASELINE.md (round 16).
    """
    from etl_project_spark.sources.dedup_index import (
        _history_docs,
        append_minhash_index,
        load_minhash_index,
        persist_minhash_index,
        query_scoped_index_dir,
    )

    path = query_scoped_index_dir(spark, "minhash_append", sf_dir)
    idx = persist_minhash_index(
        spark, sf_dir, n_hashes=64, shingle_k=3, use_token_ngrams=True,
        path=path, register=False, docs=_history_docs(spark, sf_dir),
    )
    append_minhash_index(spark, sf_dir, idx)
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_near_dup_pairs(
        d, "doc_id", "text", n_hashes=64, bands=32, shingle_k=3,
        threshold=0.5, use_token_ngrams=True, prefilter=False,
        signed=load_minhash_index(spark, idx),
    )


@register(
    "q_minhash_batch_probe_pairs",
    oracle=_MINHASH_BATCH_PROBE_ORACLE,
    tags=("dedup", "lsh", "index", "incremental"),
)
def q_minhash_batch_probe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-cycle query of the incremental topology, end to end:
    grow the index (history build + the shared
    ``append_minhash_frames`` write body over the arriving batch —
    exactly ``q_minhash_index_append_pairs``'s maintenance step), then
    probe ONLY the batch against the grown corpus: near-dup pairs with
    at least one batch member.

    This is what a production deployment runs per arriving batch
    instead of the whole-corpus sweep the other registry forms price:
    candidate generation is (batch-banded × corpus-banded), so its
    mass scales with the batch's band collisions — O(batch) per cycle
    — while the whole-corpus sweep re-verifies every historical pair
    it already knows. The LSH recall argument is the inflight query's
    verbatim (any qualifying pair has a batch-side member whose banded
    rows carry every band hash; candidates ∩ exact-verify ⊆ exact
    restricted set, same collision floor).

    The natural src19 batch has ZERO near-dups against this corpus, so
    the batch is augmented with planted prefix-insertion clones of a
    deterministic md5-slice of history (ids +50M — the
    ``q_cdc_incremental_chunk_dedup`` convention): a prefix insertion
    leaves every original word-3-gram intact and adds exactly the
    prefix-spanning grams, so (original, clone) Jaccard is
    ``|G|/(|G|+5)`` — ≥0.5 whenever the doc has ≥5 grams, replayed
    bit-identically by the oracle's augmented CTE. Without the plant
    the oracle would be a vacuous 0=0 (the round-1 lesson).
    """
    from pyspark.sql import functions as F

    from etl_project_spark.sources.dedup_index import (
        BATCH_SOURCE,
        append_minhash_frames,
        load_minhash_index,
        persist_minhash_index,
        query_scoped_index_dir,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 20
    )
    clones = d.filter((F.col("source") != BATCH_SOURCE) & (bucket == 7)).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.lit(BATCH_SOURCE).alias("source"),
        F.concat(
            F.lit("INSERTED PREFIX BYTES SHIFT EVERYTHING "), F.col("text")
        ).alias("text"),
    )
    aug = d.unionByName(clones)
    hist = aug.filter(F.col("source") != BATCH_SOURCE)
    batch = aug.filter(F.col("source") == BATCH_SOURCE)

    path = query_scoped_index_dir(spark, "minhash_probe", sf_dir)
    idx = persist_minhash_index(
        spark, sf_dir, n_hashes=64, shingle_k=3, use_token_ngrams=True,
        path=path, register=False, docs=hist,
    )
    append_minhash_frames(idx, batch)
    return DD.minhash_near_dup_pairs(
        aug, "doc_id", "text", n_hashes=64, bands=32, shingle_k=3,
        threshold=0.5, use_token_ngrams=True, prefilter=False,
        signed=load_minhash_index(spark, idx),
        probe_ids=batch.select(F.col("doc_id").alias("_id")),
    )


@register(
    "q_minhash_index_delete_pairs",
    oracle=_MINHASH_DELETE_ORACLE,
    tags=("dedup", "lsh", "index", "incremental"),
)
def q_minhash_index_delete_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index maintenance lifecycle END TO END, retraction included
    (round-16 verdict #1): build the index over history, grow it with
    the arriving batch (planted clones of the deterministic bucket20==7
    md5-slice of history — the probe query's corpus, so both deleted
    and surviving tombstone slices own (original, clone) pairs), then
    DELETE the bucket40==7 half of the planted clones from the grown
    index — the takedown/opt-out path — and run the whole-corpus
    near-dup sweep against the shrunk index.

    The delete (``delete_from_minhash_index``) re-signs NOTHING: one
    column-pruned id pass finds the part-files holding tombstoned
    rows, and only those files are rewritten minus the tombstones —
    O(affected files), which for a recent batch is O(that batch's
    files) since appends land in their own part-files. No job in the
    chain reads any document text except the signing of history (once)
    and the batch (once) — in particular the tombstone frame itself is
    built from ``(doc_id, source)`` alone (asserted on executed plans
    in tests/test_dedup_index.py).

    The shrunk index is frame-identical to a rebuild over
    corpus-minus-tombstones (per-doc purity: dropping one doc's rows
    cannot perturb another's), so the sweep returns exactly the pair
    set of the surviving corpus — documents ∪ clones(bucket40==27),
    which is what the oracle states directly. Non-vacuous three ways:
    the surviving clones still pair with their originals (result
    non-empty), the deleted clones owned pairs (the grown-index answer
    is strictly larger — pinned in tests), and a pair of two
    tombstoned members must not resurface.
    """
    from pyspark.sql import functions as F

    from etl_project_spark.sources.dedup_index import (
        BATCH_SOURCE,
        append_minhash_frames,
        delete_from_minhash_index,
        load_minhash_index,
        persist_minhash_index,
        query_scoped_index_dir,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    bucket40 = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 40
    )
    # bucket20==7 ≡ bucket40 ∈ {7, 27}: the full planted-clone slice…
    clones = d.filter(
        (F.col("source") != BATCH_SOURCE) & bucket40.isin(7, 27)
    ).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.lit(BATCH_SOURCE).alias("source"),
        F.concat(
            F.lit("INSERTED PREFIX BYTES SHIFT EVERYTHING "), F.col("text")
        ).alias("text"),
    )
    aug = d.unionByName(clones)
    hist = aug.filter(F.col("source") != BATCH_SOURCE)
    batch = aug.filter(F.col("source") == BATCH_SOURCE)
    # …and bucket40==7 is the tombstoned half. Built from (doc_id,
    # source) only — retraction must never need the text.
    tomb = d.filter(
        (F.col("source") != BATCH_SOURCE) & (bucket40 == 7)
    ).select((F.col("doc_id") + 50_000_000).alias("_id"))

    path = query_scoped_index_dir(spark, "minhash_delete", sf_dir)
    idx = persist_minhash_index(
        spark, sf_dir, n_hashes=64, shingle_k=3, use_token_ngrams=True,
        path=path, register=False, docs=hist,
    )
    append_minhash_frames(idx, batch)
    delete_from_minhash_index(spark, idx, tomb)
    return DD.minhash_near_dup_pairs(
        aug, "doc_id", "text", n_hashes=64, bands=32, shingle_k=3,
        threshold=0.5, use_token_ngrams=True, prefilter=False,
        signed=load_minhash_index(spark, idx),
    )


#: SimHash fingerprint + exact-Hamming pair SQL — shared by the
#: whole-corpus self-join query and the index-append probe twin (the
#: _MINHASH_PAIRS_ORACLE convention: one replay of the md5 token-hash
#: majority-vote arithmetic, so the two oracles can never drift).
_SIMHASH_PAIRS_ORACLE = """
WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
-- Whitespace-normalize BEFORE splitting (collapse runs to one space,
-- then TRIM, then split on the single space): Python str.split() never
-- yields empty tokens, but splitting the raw text on \\s+ would emit
-- an empty first token for text with a leading tab/newline (TRIM only
-- strips spaces) — a latent vote-changing divergence (round-5 advice).
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(TRIM(regexp_replace(t, '\\s+', ' ', 'g')), ' ')) AS tok
  FROM docs
), th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks
), bits AS (
  SELECT doc_id, p,
         SUM(CAST((h >> p) & 1 AS BIGINT)) AS ones, COUNT(*) AS n
  FROM th, UNNEST(generate_series(0, 63)) u(p) GROUP BY doc_id, p
), fp AS (
  SELECT doc_id, p, CAST(ones * 2 > n AS INT) AS bit FROM bits
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(CAST(a.bit != b.bit AS INT)) AS INTEGER) AS hamming
  FROM fp a JOIN fp b ON a.p = b.p AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6
"""

# Import-time pins for the append-twin surgery below (the ADVICE-r16
# convention): the fingerprint CTE chain must start at the docs CTE
# reading documents exactly once, and the pairs CTE must carry the
# self-join condition the twin replaces with the batch×history
# restriction.
assert _SIMHASH_PAIRS_ORACLE.count("FROM documents") == 1
assert _SIMHASH_PAIRS_ORACLE.count("AND a.doc_id < b.doc_id") == 1
assert _SIMHASH_PAIRS_ORACLE.count("SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6") == 1

#: The index-append probe twin's oracle: the SAME fingerprint and
#: Hamming arithmetic over an AUGMENTED corpus (documents ∪ planted
#: prefix-insertion clones of the src18 slice, ids +50M, tagged src19
#: — clones sit at Hamming 0–12 from their originals, ~20 of 25 under
#: the ≤6 threshold at test SFs), restricted to (batch doc, history
#: doc) rows in the stream-match orientation: a = the arriving src19
#: side (probe), b = everything else (the index side, INCLUDING the
#: appended src18 slice — without the append the clone↔original rows
#: would be missing, which is what makes the plant non-vacuous).
_SIMHASH_APPEND_ORACLE = (
    """
WITH aug AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 50000000 AS doc_id, 'src19' AS source,
         'INSERTED PREFIX BYTES SHIFT EVERYTHING ' || text AS text
  FROM documents
  WHERE source = 'src18'
),"""
    + _SIMHASH_PAIRS_ORACLE.lstrip()
    .removeprefix("WITH")
    .replace("FROM documents", "FROM aug", 1)
    .replace(
        "AND a.doc_id < b.doc_id",
        """AND a.doc_id IN (SELECT doc_id FROM aug WHERE source = 'src19')
    AND b.doc_id NOT IN (SELECT doc_id FROM aug WHERE source = 'src19')""",
        1,
    )
    .replace(
        "SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6",
        "SELECT id_a AS doc_id, id_b AS match_id, hamming "
        "FROM pairs WHERE hamming <= 6",
        1,
    )
)


@register(
    "q_simhash_near_dup_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE,
    tags=("dedup", "simhash"),
)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ 6 of 64 bits.

    ORACLE-BACKED, and unlike the LSH families this needs no corpus
    luck: combination pigeonhole blocking is COMPLETE by theorem (d
    differing bits leave ≥ eq_blocks of the max_hamming+eq_blocks
    blocks untouched, so some eq_blocks-subset matches exactly), and
    the md5 token-hash majority-vote fingerprint is pure deterministic
    arithmetic DuckDB replays bit-for-bit (token md5 → per-position
    majority vote → exact per-pair Hamming). Round-5 fix: a 4×16-bit
    blocking silently missed distances 4–6 (17 of 78 true pairs at
    sf0.01). Round-10: single-chunk → combination keys auto-dispatched
    on corpus size, with a canonical-combo filter replacing the
    distinct() shuffle (see the operator docstring), and NO output
    orderBy — the parity harness canon-sorts rows itself, and a global
    sort re-executes the whole pair pipeline once more just to sample
    range bounds — structural waste even when a noisy host hides the
    delta (the sf10 A/B landed inside co-tenant variance).
    """
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=6)


@register(
    "q_simhash_index_append_matches",
    oracle=_SIMHASH_APPEND_ORACLE,
    tags=("dedup", "simhash", "index", "incremental"),
)
def q_simhash_index_append_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-history SimHash matches served from an INCREMENTALLY
    GROWN posting index — the maintenance twin for the third index
    family (round-16 verdict #8, after MinHash and nkey): the posting
    index is built over the OLDER history only (every source except
    the two most recent crawls), the previously-arrived ``src18``
    batch is folded in by ``append_simhash_index`` — which
    fingerprints ONLY that batch; postings are per-doc pure, so the
    grown index is row-identical to a full history build — and the
    arriving batch is probed against the grown index with the
    stateless stream-static match plan (combination-pigeonhole
    blocking, complete by theorem, so the output is EXACTLY the
    ≤ max_hamming cross pair set).

    The natural corpus has zero src19↔src18 matches at test SFs (the
    probe would be append-blind), so the batch is augmented with
    planted prefix-insertion clones of the src18 slice (ids +50M, the
    established convention): ~20 of 25 clones sit within Hamming 6 of
    their originals, and those (clone, original) rows exist in the
    output ONLY because the append folded src18's postings in —
    skipping the append visibly changes the answer (pinned in
    tests/test_dedup_index.py).
    """
    from pyspark.sql import functions as F

    from etl_project_spark.sources.dedup_index import (
        BATCH_SOURCE,
        append_simhash_frames,
        load_simhash_index,
        persist_simhash_index,
        query_scoped_index_dir,
    )
    from etl_project_spark.streaming.dedup import stream_simhash_near_dup

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    clones = d.filter(F.col("source") == "src18").select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.lit(BATCH_SOURCE).alias("source"),
        F.concat(
            F.lit("INSERTED PREFIX BYTES SHIFT EVERYTHING "), F.col("text")
        ).alias("text"),
    )
    aug = d.unionByName(clones)
    older = aug.filter(~F.col("source").isin("src18", BATCH_SOURCE))
    appended = aug.filter(F.col("source") == "src18")
    probe = aug.filter(F.col("source") == BATCH_SOURCE)

    path = query_scoped_index_dir(spark, "simhash_append", sf_dir)
    idx = persist_simhash_index(
        spark, sf_dir, max_hamming=6, eq_blocks=2,
        path=path, register=False, docs=older,
    )
    append_simhash_frames(idx, appended)
    return stream_simhash_near_dup(
        probe,
        load_simhash_index(spark, idx),
        max_hamming=6,
        eq_blocks=2,
    )


@register(
    "q_ngram_jaccard_pairs",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.id_a, s.id_b,
       ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) AS jaccard_sim
FROM shared s
JOIN sizes sa ON s.id_a = sa.doc_id
JOIN sizes sb ON s.id_b = sb.doc_id
WHERE ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) >= 0.2
""",
    tags=("dedup", "ngram"),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard pairs ≥ 0.2 via inverted-index join (the
    operator routes by threshold since round 12 — at t=0.2 the naive
    single self-join beats the prefix-filtered plan 10×; see
    operators/dedup.py::ngram_jaccard_pairs).

    Exact (no lossy candidate stage), so unlike the LSH families this
    one IS oracle-checked: the SQL twin rebuilds the same normalized
    word 3-grams with list slicing and the same |A∩B|/(|A|+|B|-|A∩B|)
    arithmetic.
    """
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2).orderBy(
        "id_a", "id_b"
    )


@register(
    "q_ngram_jaccard_pairs_capped",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), gdf AS (
  SELECT g, COUNT(*) AS df FROM grams GROUP BY g
), kept AS (
  SELECT r.doc_id, r.g FROM grams r JOIN gdf USING (g) WHERE gdf.df <= 64
), dropped AS (
  SELECT r.doc_id, r.g FROM grams r JOIN gdf USING (g) WHERE gdf.df > 64
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT 'pair' AS kind, s.id_a, s.id_b,
       ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) AS jaccard_sim
FROM shared s
JOIN sizes sa ON s.id_a = sa.doc_id
JOIN sizes sb ON s.id_b = sb.doc_id
WHERE ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) >= 0.2
UNION ALL
SELECT 'audit',
       (SELECT COUNT(DISTINCT g) FROM dropped),
       (SELECT COUNT(DISTINCT doc_id) FROM dropped),
       CAST(NULL AS DOUBLE)
""",
    tags=("dedup", "ngram", "capped"),
)
def q_ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped word-3-gram Jaccard pairs (cap=64) + in-band audit —
    the bounded-candidate production form of `q_ngram_jaccard_pairs`.

    The exact family is Θ(Σ cluster²) in candidate mass and exhausts
    disk on mirror-cluster corpora (sf10 sweep, BASELINE.md §Round 8);
    this variant drops grams whose document frequency exceeds 64
    before the inverted-index join, bounding per-gram fan-out at 64²,
    and EMITS one ``kind='audit'`` row (grams dropped, docs affected)
    so a pipeline can see exactly what the cap cost. The oracle
    replays the cap itself, so parity holds at ANY scale — at driver
    SF the max gram DF is 7 (sf0.01) / 25 (sf0.1), the audit row is
    zeros, and the pair set equals the uncapped family's.
    """
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs_capped(
        d, "doc_id", "text", n=3, threshold=0.2, df_cap=64
    ).orderBy("kind", "id_a", "id_b")


@register(
    "q_embedding_near_dup_pairs",
    oracle="""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 10000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cosine_sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) >= 0.9
""",
    tags=("dedup", "embedding"),
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (multi-table LSH, cosine ≥ 0.9)
    over a PLANTED corpus — ORACLE-BACKED since round 6 (rows-only in
    r1–r5).

    The natural corpus embeddings are near-orthogonal (max pairwise
    cosine ≈ 0.34), so the exact pair set at 0.9 is empty and an
    oracle over it would be a vacuous 0=0 match (the round-1 lesson).
    Instead the query unions a perturbed twin of every vector (+0.01
    per coordinate, id +10000 — arithmetic DuckDB replays bit-for-bit,
    same device as q_knn_join_lsh): the exact pair set becomes exactly
    the N (original, twin) pairs at cosine ≈ 0.997 (verified non-empty
    and twin-only at sf0.001/0.01/0.1), while the natural background
    stays far below threshold. The REAL LSH path runs over the union —
    28 seeded tables × 12 planes (auto-derived for ≥0.99 recall at
    0.9); a cosine-0.997 pair misses all tables w.p. ≈ 5e-17, and the
    seeded hash family makes the outcome a fixed fact, so equality
    with the brute-force oracle is deterministic. Any recall miss,
    score drift, or extra candidate is a hard hash failure. The
    recall/precision property tests in tests/test_dedup.py still guard
    the operator on natural-corpus-shaped fixtures.
    """
    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    twins = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE) + 0.01D)").alias(
            "embedding"
        ),
    )
    # Verify form + signature width gate on corpus size (measured
    # crossover; the count() is index-build metadata from parquet
    # footers):
    #
    # - ≤ 100k vectors: 'join' verify with depth-~4 buckets (bits =
    #   log2(n/4)) — the r6/r7 config. Candidates are few, posting
    #   lists are skinny, and the bucket-grouped form's ~50 µs
    #   per-group dispatch over shallow, plentiful buckets is pure
    #   overhead (measured 3× slower at sf0.1 [1k corpus], 1.4× at
    #   sf1 [40k corpus]).
    # - > 100k vectors: 'grouped' verify with depth-~128 buckets (bits
    #   = log2(n/128)) — candidate pairs never exist as Spark rows,
    #   the within-bucket d²/2 einsum is nearly free, and the analytic
    #   table count drops (depth-4 sizing needs ~60 tables at 400k
    #   vectors vs ~30 at depth 128). Measured at sf10's 400k corpus:
    #   574.8 s (join, depth 4) → 117.5 s (grouped, depth 128), same
    #   hash-green pair set — which places the crossover BETWEEN the
    #   sf1 and sf10 corpora. Round-8 shipped this gate at 1M, ABOVE
    #   its own sf10 measurement point, so the round-9 sweep re-took
    #   the 574.8 s join path at 400k (1020.2 s on a ~1.7× slower VM,
    #   BASELINE.md §Round 9) — the gate now sits at 100k, inside the
    #   measured bracket (40k join-wins, 400k grouped-wins). Recall
    #   ≥ 0.99 holds at either width by construction; the sf0.01
    #   driver corpus floors at the proven 12-bit config.
    import math

    n_corpus = 2 * e.count()
    if n_corpus > 100_000:
        verify, depth = "grouped", 128
    else:
        verify, depth = "join", 4
    bits = max(12, math.ceil(math.log2(max(2, n_corpus / depth))))
    return DD.embedding_near_dup_pairs(
        base.unionByName(twins),
        "vec_id",
        "embedding",
        dim=64,
        threshold=0.9,
        planes_per_table=bits,
        verify=verify,
    )


@register(
    "q_benchmark_contamination",
    oracle="""
WITH norm AS (
  SELECT doc_id, source,
         TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), grams AS (
  SELECT doc_id, source, substr(t, p, 12) AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(LENGTH(t) - 11, 1))) AS u(p)
), bench AS (
  SELECT DISTINCT g FROM grams WHERE source = 'src0'
), corpus AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE source <> 'src0'
)
SELECT c.doc_id,
       COUNT(*) AS n_grams,
       COUNT(b.g) AS n_shared,
       ROUND(1.0 * COUNT(b.g) / COUNT(*), 6) AS contamination
FROM corpus c LEFT JOIN bench b ON c.g = b.g
GROUP BY c.doc_id
""",
    tags=("dedup", "contamination", "text"),
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document overlap with a held-out set.

    The eval-set contamination check every pretraining pipeline runs:
    treat one source (src0) as the benchmark, shingle both sides into
    char 12-grams (explode + substr — whole-stage codegen, see
    operators/dedup.py::shingle_rows), and score each corpus document
    by the fraction of its distinct shingles that appear anywhere in
    the benchmark. Set-semantics via distinct before the join; the
    overlap is an equi-join on the gram (hash-partitioned both sides,
    no cross product). Grams are xxhash64'd to fixed 8-byte keys
    before the distinct/join so the shuffle never carries strings
    (collision odds ~1e-6 at 10M grams — far below the rounding
    granularity); at 100 TB the benchmark side is the small input —
    broadcast it when it fits.
    """
    d = _t(spark, sf_dir, "documents")

    def grams(df: DataFrame) -> DataFrame:
        rows = DD.shingle_rows(df, "doc_id", "text", k=12)
        return rows.select("_id", F.xxhash64("_gram").alias("_g"))

    # Bench side: distinct hashed grams from the benchmark source. NO
    # static broadcast hint (round-8): rounds ≤7 hinted F.broadcast on
    # the "eval sets are MBs" assumption, but the hint is uncondition-
    # al — on the synthetic corpus src0 is a fifth of ALL documents
    # (~1.1 GB of distinct hashed grams at the sf10 sweep, ~11 GB at
    # 100×), exactly the ungated-broadcast OOM the round-7 verdict
    # flagged in semantic dedup. AQE decides instead, from EXACT
    # runtime shuffle statistics: a genuinely-small bench side still
    # converts to a broadcast join (with the corpus exchange read
    # locally), a big one stays a shuffle join that spills instead of
    # OOMing. Measured at sf0.1 (bench_pair, same VM): hinted steady
    # 2.948 s vs AQE 2.905 s — the hint bought nothing the optimizer
    # doesn't already do at runtime, and it carried the 100× failure.
    bench = (
        grams(d.filter(F.col("source") == "src0"))
        .select("_g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # Corpus side: ONE doc-keyed exchange serves the whole path (r17,
    # guide §2.4 — two operations keyed the same way share one
    # exchange). Hash-partitioning on _id alone satisfies the
    # (_id, _g) distinct's clustering requirement (subset rule: equal
    # _id ⇒ co-located ⇒ equal (_id, _g) co-located), and the
    # broadcast hit-join preserves that partitioning into the final
    # per-doc aggregate — so neither the dedup nor the groupBy(_id)
    # inserts its own exchange. Measured sf0.1 (interleaved, 5 reps):
    # 3.10 → 2.21 s warm, plan 3 Exchanges → 2, rows identical. In the
    # big-bench-side regime where AQE leaves the hit-join a shuffle
    # join, the _g exchange returns on both plans and the counts
    # equalize — no regression at scale. (Folding set semantics into
    # count_distinct aggregates instead halved the shuffle count but
    # Expand doubled shuffle rows: +75% warm, round-6 measurement.)
    corpus = (
        grams(d.filter(F.col("source") != "src0")).repartition("_id").distinct()
    )
    return (
        corpus.join(bench, "_g", "left")
        .groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_shared"),
            F.round(F.count("_hit") / F.count(F.lit(1)), 6).alias("contamination"),
        )
    )


@register(
    "q_incremental_dedup_new_batch",
    oracle="""
WITH norm AS (
  SELECT doc_id, source,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
  SELECT b.doc_id AS bid, h.doc_id AS hid, COUNT(*) AS ix
  FROM grams b JOIN grams h ON b.g = h.g
  WHERE b.source = 'src19' AND h.source <> 'src19'
  GROUP BY b.doc_id, h.doc_id
), scored AS (
  SELECT i.bid, i.hid,
         ROUND(1.0 * i.ix / (sb.sz + sh.sz - i.ix), 4) AS jac
  FROM inter i
  JOIN sizes sb ON i.bid = sb.doc_id
  JOIN sizes sh ON i.hid = sh.doc_id
), best AS (
  SELECT bid, hid, jac,
         ROW_NUMBER() OVER (PARTITION BY bid ORDER BY jac DESC, hid) AS rn
  FROM scored
)
SELECT d.doc_id,
       b.hid AS best_match_id,
       COALESCE(b.jac, 0.0) AS best_jaccard,
       COALESCE(b.jac, 0.0) >= 0.5 AS is_near_dup
FROM (SELECT doc_id FROM documents WHERE source = 'src19') d
LEFT JOIN best b ON b.bid = d.doc_id AND b.rn = 1
""",
    tags=("dedup", "incremental"),
)
def q_incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the continuous-ingestion shape: score every
    NEW document (source ``src19`` stands in for the arriving batch)
    against the HISTORICAL corpus (all other sources) and flag
    near-dups (word-3-gram Jaccard ≥ 0.5) with their best historical
    match.

    Unlike the all-pairs self-join families, this is an asymmetric
    batch×history join: the batch side is small relative to history
    (the steady-state ratio at 100 TB — a day's crawl against years of
    corpus), so the gram equi-join shuffles the batch fully but only
    the MATCHING slice of history; per-batch-doc argmax is a window
    over candidate matches, bounded by near-dup fan-in. Grams are
    xxhash64'd before the join (no string shuffle).

    Both sides shingle through the shared codegen row form
    (``gram_rows_hashed``; round-13: each side filters its sources
    BEFORE shingling — the r12 form shingled the whole table then
    filtered — and the sizes join lands AFTER the intersection
    aggregate, where both frames are candidate-bounded). The HISTORY
    side is additionally servable from the persisted layout registry
    (:mod:`etl_project_spark.sources.dedup_index`): when a session has
    run ``persist_gram_index``, repeat batches skip the history shingle
    scan entirely and probe the parquet index (measured 6.2× per repeat
    batch at sf1) — the streaming twin
    (``stream_incremental_dedup_scores``) consumes the identical frame.
    Docs with no overlapping gram still emit a row (best_jaccard 0, no
    match) via the left join — the downstream router needs a decision
    for every new doc, not just dupes.
    """
    from pyspark.sql import Window as W

    from etl_project_spark.sources.dedup_index import (
        BATCH_SOURCE,
        GramIndex,
        index_for,
        load_gram_index,
    )

    d = _t(spark, sf_dir, "documents")
    idx = index_for(GramIndex, sf_dir, n=3)
    if idx is not None:
        served = load_gram_index(spark, idx)
        hg = served.select("_hid", "_g")
        hsz = served.groupBy("_hid").agg(F.first("_szh").alias("_szh"))
    else:
        # Examined r17, left alone: hg/bg each feed two consumers
        # (overlap join + size agg) so each side's shingle pass runs
        # twice — but persisting both frames measured SLOWER (~1.0 s
        # recompute vs ~1.9-2.1 s cached reps at sf0.1): the cache
        # materialization jobs cost more than the doubled codegen
        # shingle scan. The served branch (index_for) is the real
        # no-rescan answer at scale.
        hg = DD.gram_rows_hashed(
            d.filter(F.col("source") != BATCH_SOURCE), n=3, id_out="_hid"
        )
        hsz = hg.groupBy("_hid").agg(F.count(F.lit(1)).alias("_szh"))
    bg = DD.gram_rows_hashed(
        d.filter(F.col("source") == BATCH_SOURCE), n=3, id_out="_bid"
    )
    bsz = bg.groupBy("_bid").agg(F.count(F.lit(1)).alias("_szb"))
    scored = (
        bg.join(hg, "_g")
        .groupBy("_bid", "_hid")
        .agg(F.count(F.lit(1)).alias("_ix"))
        .join(bsz, "_bid")
        .join(hsz, "_hid")
        .select(
            "_bid",
            "_hid",
            F.round(
                F.col("_ix") / (F.col("_szb") + F.col("_szh") - F.col("_ix")), 4
            ).alias("_jac"),
        )
    )
    w = W.partitionBy("_bid").orderBy(F.col("_jac").desc(), F.col("_hid"))
    best = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    batch_ids = d.filter(F.col("source") == BATCH_SOURCE).select("doc_id")
    return batch_ids.join(
        best, batch_ids["doc_id"] == best["_bid"], "left"
    ).select(
        "doc_id",
        F.col("_hid").alias("best_match_id"),
        F.coalesce(F.col("_jac"), F.lit(0.0)).alias("best_jaccard"),
        (F.coalesce(F.col("_jac"), F.lit(0.0)) >= 0.5).alias("is_near_dup"),
    )


@register(
    "q_dedup_cluster_labels",
    oracle="""
WITH RECURSIVE norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT s.id_a, s.id_b
  FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id JOIN sizes sb ON s.id_b = sb.doc_id
  WHERE ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), lbl(id, l) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, lbl.l FROM edges e JOIN lbl ON lbl.id = e.dst
)
SELECT id, MIN(l) AS cluster FROM lbl GROUP BY id
""",
    tags=("dedup", "graph", "iterative"),
)
def q_dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over Jaccard pair edges.

    The step after pair finding in a dedup pipeline — collapse the
    pair graph into clusters (keep min-id per cluster, drop the rest).
    Edges are the exact word-3-gram Jaccard ≥ 0.2 pairs
    (`q_ngram_jaccard_pairs`); components come from iterative
    min-label propagation (operators/dedup.py::connected_components).
    The oracle replays the same reachability as a DuckDB recursive
    CTE — even the iterative stage is hash-checked.
    """
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return DD.connected_components(pairs)


_CLUSTER_CTE = """
WITH RECURSIVE norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT s.id_a, s.id_b
  FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id JOIN sizes sb ON s.id_b = sb.doc_id
  WHERE ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), lbl(id, l) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, lbl.l FROM edges e JOIN lbl ON lbl.id = e.dst
), clusters AS (
  SELECT id, MIN(l) AS cluster FROM lbl GROUP BY id
)
"""


@register(
    "q_dedup_canonical_docs",
    oracle=_CLUSTER_CTE
    + """
, ranked AS (
  SELECT c.cluster, c.id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster
                            ORDER BY d.n_chars DESC, c.id) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster) AS n_members
  FROM clusters c JOIN documents d ON d.doc_id = c.id
)
SELECT cluster, id AS canonical_id, n_chars AS canonical_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""",
    tags=("dedup", "graph", "canonical"),
)
def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical representative per near-dup cluster (keep-one dedup).

    The decision step after clustering: inside every connected
    component of the Jaccard pair graph keep the longest document
    (ties to the smallest id) and record cluster size — downstream an
    anti-join of members minus canonicals is the drop list. One extra
    shuffle over `q_dedup_cluster_labels`: the labels join documents
    on doc_id, then a per-cluster window ranks members; cluster
    cardinality is bounded by near-dup group sizes, so no window
    partition goes pathological at scale.
    """
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    labels = DD.connected_components(pairs)
    sized = labels.join(
        d.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    w = W.partitionBy("cluster").orderBy(F.col("n_chars").desc(), F.col("id"))
    return (
        sized.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(W.partitionBy("cluster")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("id").alias("canonical_id"),
            F.col("n_chars").alias("canonical_chars"),
            "n_members",
        )
    )


@register(
    "q_dedup_cluster_labels_capped",
    oracle="""
WITH RECURSIVE norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), gdf AS (
  SELECT g, COUNT(*) AS df FROM grams GROUP BY g
), kept AS (
  SELECT r.doc_id, r.g FROM grams r JOIN gdf USING (g) WHERE gdf.df <= 64
), dropped AS (
  SELECT r.doc_id, r.g FROM grams r JOIN gdf USING (g) WHERE gdf.df > 64
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT s.id_a, s.id_b
  FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id JOIN sizes sb ON s.id_b = sb.doc_id
  WHERE ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), lbl(id, l) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, lbl.l FROM edges e JOIN lbl ON lbl.id = e.dst
)
SELECT 'member' AS kind, id, MIN(l) AS cluster FROM lbl GROUP BY id
UNION ALL
SELECT 'audit',
       (SELECT COUNT(DISTINCT g) FROM dropped),
       (SELECT COUNT(DISTINCT doc_id) FROM dropped)
""",
    tags=("dedup", "graph", "capped"),
)
def q_dedup_cluster_labels_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the DF-capped Jaccard pair graph —
    the bounded production form of `q_dedup_cluster_labels`.

    The uncapped components query inherits the exact pair family's
    Θ(Σ cluster²) candidate mass and became the sf10 sweep's newest
    disk-exhaust (it consumes `q_ngram_jaccard_pairs` wholesale).
    This form feeds `ngram_jaccard_pairs_capped` (df_cap=64, candidate
    mass linear in corpus size) into the same O(log diameter)
    min-label + pointer-jump loop, and forwards the cap's in-band
    audit row (``kind='audit'``, id = distinct grams dropped, cluster
    = docs affected) alongside the ``kind='member'`` labels, so the
    keep-one decision downstream can see exactly which documents were
    clustered on a truncated gram universe. At driver SF no gram
    exceeds the cap, the audit row is zeros, and the member set equals
    the uncapped query's — the oracle replays the cap, so parity holds
    at any scale.
    """
    d = _t(spark, sf_dir, "documents")
    capped = DD.ngram_jaccard_pairs_capped(
        d, "doc_id", "text", n=3, threshold=0.2, df_cap=64
    )
    pairs = capped.filter(F.col("kind") == "pair").select("id_a", "id_b")
    members = DD.connected_components(pairs).select(
        F.lit("member").alias("kind"), "id", "cluster"
    )
    audit = capped.filter(F.col("kind") == "audit").select(
        "kind",
        F.col("id_a").cast("long").alias("id"),
        F.col("id_b").cast("long").alias("cluster"),
    )
    return members.unionByName(audit).orderBy("kind", "id")


@register(
    "q_ngram_containment_pairs",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.id_a, s.id_b,
       ROUND(1.0 * s.inter / sa.sz, 4) AS containment
FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id
WHERE ROUND(1.0 * s.inter / sa.sz, 4) >= 0.6
""",
    tags=("dedup", "ngram", "containment"),
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional word-3-gram containment pairs ≥ 0.6.

    |A∩B| / |A| instead of Jaccard: catches a document contained in a
    longer one (quotes, mirrored excerpts) that union-normalized
    similarity misses. Exact inverted-index formulation — the SQL twin
    rebuilds the same grams and the same asymmetric ratio, with rows
    directional (id_a = the contained side).
    """
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.6
    ).orderBy("id_a", "id_b")


@register(
    "q_jaccard_prefix_filter_pairs",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[p : p + 2], ' ') AS g
  FROM norm, UNNEST(generate_series(1, GREATEST(len(t) - 2, 1))) AS u(p)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.id_a, s.id_b,
       ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) AS jaccard_sim
FROM shared s
JOIN sizes sa ON s.id_a = sa.doc_id
JOIN sizes sb ON s.id_b = sb.doc_id
WHERE ROUND(1.0 * s.inter / (sa.sz + sb.sz - s.inter), 4) >= 0.5
""",
    tags=("dedup", "ngram", "prefix-filter"),
)
def q_jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard ≥ 0.5 pairs via PREFIX-FILTERED candidates (PPJoin-style).

    The oracle is deliberately the NAIVE exact inverted-index SQL: the
    prefix filter is a lossless candidate-pruning theorem, so the
    smarter plan must produce the bit-identical pair set — the
    optimization itself is what the hash check verifies. Candidate
    generation joins only each doc's rarest-gram prefix (hot grams
    sort last and never enter the join), which is what keeps the
    candidate count linear-ish as corpus frequency skew grows with
    scale.
    """
    d = _t(spark, sf_dir, "documents")
    return DD.jaccard_prefix_filter_pairs(
        d, "doc_id", "text", n=3, threshold=0.5
    ).orderBy("id_a", "id_b")


@register(
    "q_semantic_dedup_pairs",
    oracle="""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 10000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
  FROM embeddings
), ncells AS (
  SELECT GREATEST(16, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / 250) AS INTEGER)) AS k
  FROM corpus
), cents AS (
  SELECT rn - 1 AS cell_id, emb AS cvec
  FROM (SELECT vec_id, emb,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM corpus WHERE vec_id % 7 = 0), ncells
  WHERE rn <= k
), assigned AS (
  SELECT vec_id, emb, cell_id FROM (
    SELECT c2.vec_id, c2.emb, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY c2.vec_id
             ORDER BY list_cosine_similarity(c2.emb, c.cvec) DESC, c.cell_id) AS rn
    FROM corpus c2 CROSS JOIN cents c)
  WHERE rn = 1
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cosine_sim
FROM assigned a
JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) >= 0.9
""",
    tags=("dedup", "embedding", "semantic"),
)
def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-compare near-dup pairs (cosine ≥ 0.9).

    Same planted-twin corpus as `q_embedding_near_dup_pairs` (natural
    corpus is near-orthogonal, so the exact pair set at 0.9 would be
    vacuous), but a DIFFERENT pruning strategy: nearest-of-16-centroids
    cell assignment (the IVF kernel, oracle-proven arithmetic), then
    exact pairwise cosine within cells only. The oracle replays the
    identical cell rule, so the cluster-pruning trade-off — a pair
    split across cells is skipped — is itself hash-checked rather than
    hand-waved. Complements the LSH family: SemDeDup prunes by data
    geometry (k cells ⇒ ~n²/k pairs), LSH by analytic recall.
    """
    from etl_project_spark.operators import similarity as SIM

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    twins = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE) + 0.01D)").alias(
            "embedding"
        ),
    )
    corpus = base.unionByName(twins)
    # Cell count scales with the corpus (n/250, floor 16) so the
    # within-cell quadratic cost stays ~250²/2 per cell at ANY scale —
    # the fixed 16 of rounds ≤6 made sf1 cells 2.5k-deep and the pair
    # scan quadratic in scale-up (the round-7 sf1 sweep's straggler).
    # The count is index-build metadata (one scalar), same class as the
    # centroid collect below; the oracle computes the identical k.
    n = corpus.count()
    n_cells = max(16, -(-n // 250))
    cents = SIM.deterministic_centroids(
        corpus, "embedding", "vec_id", n_cells=n_cells
    )
    return SIM.semantic_dedup_pairs(
        corpus, "vec_id", "embedding", cents, threshold=0.9, row_hint=n
    )


# ---------------------------------------------------------------------------
# Repeated-span (substring-level) dedup — Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": instead of dropping whole
# near-dup documents, find the exact token SPANS that occur more than once
# in the corpus and mark them for removal. The distributed form avoids the
# paper's suffix array entirely: a token k-gram occurring ≥2 times anywhere
# marks its positions, and merging overlapping marked windows per document
# reconstructs exactly the maximal duplicated regions ≥ k tokens.

_SPAN_K = 5  # token window; below 5 chance word-soup collisions dominate
_SPAN_MIN_TOKENS = 10  # report spans only when ≥ 2 windows' worth of text

_SPAN_ORACLE_CORE = f"""
WITH docs AS (
  SELECT doc_id, source,
         regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS toks
  FROM documents WHERE LENGTH(TRIM(text)) > 0
), glist AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(len(toks) - {_SPAN_K} + 2, 1)),
                        i -> array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' '))
           AS grams
  FROM docs
), g AS (
  SELECT doc_id, UNNEST(grams) AS gram,
         UNNEST(range(1, len(grams) + 1)) AS pos
  FROM glist
), freq AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
), dup AS (
  SELECT g.doc_id, g.pos FROM g JOIN freq USING (gram)
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_SPAN_K}
              THEN 1 ELSE 0 END AS is_break
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         SUM(is_break) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM brk
), spans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(MAX(pos) - MIN(pos) + {_SPAN_K} AS BIGINT) AS span_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_dup_grams
  FROM isl GROUP BY doc_id, island
)
"""


def _span_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-span rows ``(doc_id, span_start, span_tokens,
    n_dup_grams)`` shared by both repeated-span queries.

    Scale shape: token 5-grams are xxhash64'd to 8-byte keys before the
    frequency count and the position join, so both shuffles carry
    ``(int64, int64)`` rows, never strings (collision odds at 10M grams
    ~1e-6 — the q_benchmark_contamination precedent). The duplicated-gram
    set is the output of a HAVING-filtered hash aggregate; the join back
    to positions is a left-semi equi-join AQE converts to broadcast when
    the dup set is small. The only per-document work is a lag/sum window
    over that document's duplicated positions — bounded by doc length,
    partitioned on doc_id. Nothing is quadratic and nothing collects:
    at 100 TB this is two hash shuffles plus a per-doc window, which is
    the whole point of replacing the suffix array.
    """
    K = _SPAN_K
    d = _t(spark, sf_dir, "documents")
    # Row-form positional shingle (operators/dedup.py::span_gram_rows):
    # whole-stage codegen end to end — the array-HOF form paid
    # interpreted per-element eval (and, before r13, re-evaluated the
    # embedded split subtree per gram: 66 s/query at sf1 vs 8 s now).
    grams = DD.span_gram_rows(d, k=K)
    dup_grams = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("g")
    )
    dup = grams.join(dup_grams, "g", "left_semi").select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    brk = dup.withColumn(
        "is_break",
        F.when(F.col("pos") - F.lag("pos").over(w) > K, 1).otherwise(0),
    )
    isl = brk.withColumn(
        "island",
        F.sum("is_break").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + F.lit(K)).cast("long").alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
    )


@register(
    "q_repeated_span_extraction",
    oracle=_SPAN_ORACLE_CORE
    + f"""
SELECT doc_id, span_start, span_tokens, n_dup_grams
FROM spans WHERE span_tokens >= {_SPAN_MIN_TOKENS}
""",
    tags=("dedup", "spans", "text", "llm"),
)
def q_repeated_span_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated token spans ≥ 10 tokens, one row per span.

    Substring-level dedup (Lee et al. 2022) without the suffix array:
    a token 5-gram seen ≥2 times corpus-wide marks its position;
    positions whose 5-token windows overlap or touch (gap ≤ k) merge
    into one maximal span via gaps-and-islands. A span is exactly a
    region every token of which lies inside some duplicated 5-gram —
    the paper's "duplicated substring" at word granularity. See
    ``_span_frame`` for the two-shuffle scale shape.
    """
    spans = _span_frame(spark, sf_dir)
    return spans.filter(F.col("span_tokens") >= _SPAN_MIN_TOKENS).select(
        "doc_id", "span_start", "span_tokens", "n_dup_grams"
    )


@register(
    "q_repeated_span_scrub_stats",
    oracle=_SPAN_ORACLE_CORE
    + f"""
, per_doc AS (
  SELECT doc_id, SUM(span_tokens) AS cut_tokens
  FROM spans WHERE span_tokens >= {_SPAN_MIN_TOKENS}
  GROUP BY doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(p.cut_tokens) AS BIGINT) AS docs_with_spans,
       CAST(SUM(len(d.toks)) AS BIGINT) AS total_tokens,
       CAST(COALESCE(SUM(p.cut_tokens), 0) AS BIGINT) AS cut_tokens,
       ROUND(COALESCE(SUM(p.cut_tokens), 0) * 1.0 / SUM(len(d.toks)), 6)
         AS cut_ratio
FROM docs d LEFT JOIN per_doc p USING (doc_id)
GROUP BY d.source
""",
    tags=("dedup", "spans", "text", "llm"),
)
def q_repeated_span_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cost of scrubbing repeated spans: how many tokens the
    span cut removes and from how many documents.

    The go/no-go report a pipeline owner reads before enabling span
    removal — if cut_ratio is high on a source, its crawl is
    boilerplate-heavy and whole-doc dedup would over-delete. Maximal
    spans within a doc are disjoint by construction (islands), so
    summing span_tokens never double-counts a token.
    """
    d = _t(spark, sf_dir, "documents")
    docs = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n_tokens"),
    )
    per_doc = (
        _span_frame(spark, sf_dir)
        .filter(F.col("span_tokens") >= _SPAN_MIN_TOKENS)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("cut_tokens"))
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("cut_tokens").cast("long").alias("docs_with_spans"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.coalesce(F.sum("cut_tokens"), F.lit(0)).cast("long").alias("cut_tokens"),
            F.round(
                F.coalesce(F.sum("cut_tokens"), F.lit(0))
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("cut_ratio"),
        )
    )


@register(
    "q_repeated_span_positions_twin",
    oracle=_SPAN_ORACLE_CORE
    + """
SELECT doc_id, CAST(pos AS BIGINT) AS pos
FROM dup
""",
    tags=("dedup", "spans", "stream-twin"),
)
def q_repeated_span_positions_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the repeated-span stream-static path: duplicated
    gram positions of every document against the corpus dup-gram
    index, via the EXACT functions the stream runs
    (streaming/dedup.py::corpus_dup_gram_index +
    stream_repeated_span_positions on a batch frame). The pytest twin
    (tests/test_streaming.py) streams the same corpus file-by-file and
    asserts this result row-for-row; registering the batch form makes
    the stream path oracle-visible in the driver's inventory."""
    from etl_project_spark.streaming import dedup as SD

    d = _t(spark, sf_dir, "documents")
    idx = SD.corpus_dup_gram_index(d, k=_SPAN_K)
    pos = SD.stream_repeated_span_positions(d, idx, k=_SPAN_K)
    return pos.select("doc_id", F.col("pos").cast("long").alias("pos"))


@register(
    "q_canonicalized_dedup_groups",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000,
         '  ' || UPPER(text) || ' !!'
  FROM documents
  WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 = 7
), norm AS (
  SELECT doc_id,
         MD5(TRIM(regexp_replace(regexp_replace(LOWER(text),
             '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g'))) AS nkey,
         MD5(text) AS rkey
  FROM corpus
)
SELECT MIN(doc_id) AS canonical_id,
       COUNT(*) AS group_size,
       CAST(COUNT(DISTINCT rkey) AS BIGINT) AS n_variants
FROM norm
GROUP BY nkey
HAVING COUNT(*) >= 2
""",
    tags=("dedup", "canonicalize", "exact"),
)
def q_canonicalized_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER text canonicalization: lowercase, strip
    punctuation to spaces, collapse whitespace — the normalization most
    crawls run before exact dedup, so 'Hello,  World!' and 'hello
    world' land in one group. Emits every group that actually merged
    (size >= 2) with its canonical id (min doc_id) and how many
    distinct RAW payloads it collapsed.

    The driver corpus is synthetic lowercase prose, so on the raw table
    canonicalization can never merge more than exact dedup does (zero
    groups at sf0.01 — a vacuous hash match). Like the planted
    near-duplicate in q_knn_lsh_topk, the query therefore derives a
    noisy variant IN-PLAN for a deterministic md5 1% slice of docs
    (uppercased, whitespace-padded, punctuation appended, id offset
    +10M) and dedups the union: every planted variant must land in its
    source doc's group through case folding + punct strip + collapse,
    at every scale factor, in both engines.

    Scale shape: both the group key and the raw-variant marker are md5
    digests computed map-side, so the single shuffle moves 2 x 32-char
    digests + one id per document — never the payload. At 100 TB the
    text column stays in the scan stage; the aggregate state per group
    is constant-size. Mirrors the reference's distinct-dedup step
    (flows/etl.py:304) with the canonicalization stage crawls put in
    front of it."""
    tune_session(spark)
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    planted = d.filter(bucket == 7).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    keyed = corpus.select(
        "doc_id",
        DD.canonical_nkey(F.col("text")).alias("nkey"),
        F.md5(F.col("text")).alias("rkey"),
    )
    return (
        keyed.groupBy("nkey")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("rkey").cast("long").alias("n_variants"),
        )
        .filter(F.col("group_size") >= 2)
        .select("canonical_id", "group_size", "n_variants")
    )


@register(
    "q_unicode_nfc_dedup",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000000, text || ' caf' || chr(233)
  FROM documents
  WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 = 3
  UNION ALL
  SELECT doc_id + 30000000, text || ' cafe' || chr(769)
  FROM documents
  WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 = 3
), keyed AS (
  SELECT doc_id, MD5(nfc_normalize(text)) AS nkey, MD5(text) AS rkey
  FROM corpus
)
SELECT MIN(doc_id) AS canonical_id,
       COUNT(*) AS group_size,
       CAST(COUNT(DISTINCT rkey) AS BIGINT) AS n_raw_forms
FROM keyed
GROUP BY nkey
HAVING COUNT(*) >= 2
""",
    tags=("dedup", "unicode", "nfc"),
)
def q_unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after Unicode NFC normalization: 'café' spelled with
    a precomposed U+00E9 and with 'e' + combining acute U+0301 are the
    same text to a reader and different byte strings to a hash — crawl
    dedup that skips canonical composition silently keeps both. Groups
    documents by md5(NFC(text)) and emits every group that merged,
    with the count of distinct RAW byte forms it collapsed.

    Spark has no Unicode-normalization builtin, so NFC runs as an
    Arrow-batched pandas UDF over the stdlib unicodedata — the
    documented slow path, justified here because no composition of
    builtins expresses UAX#15; the UDF sees each document once,
    map-side, and only the 32-char digest shuffles. DuckDB's native
    nfc_normalize implements the same standard, which is the
    cross-engine contract under test.

    The driver corpus is ASCII (NFC is the identity), so the query
    plants both spellings in-plan for a deterministic md5 1% slice
    (ids +20M/+30M) — every planted pair must land in one group with
    n_raw_forms = 2 at every scale factor."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tune_session(spark)

    # no annotations: `from __future__ import annotations` makes hints
    # strings resolved in MODULE namespace, where the local pd isn't
    def _nfc(s):
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    nfc = pandas_udf("string")(_nfc)

    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    slice_ = d.filter(bucket == 3)
    # explicit \u escapes, not literal glyphs: a source-file unicode
    # normalization (editor, formatter) would silently merge the two
    # spellings and turn the planted test vacuous
    composed = slice_.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat("text", F.lit(" caf\u00e9")).alias("text"),
    )
    decomposed = slice_.select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat("text", F.lit(" cafe\u0301")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(composed).unionByName(decomposed)
    keyed = corpus.select(
        "doc_id",
        F.md5(nfc(F.col("text"))).alias("nkey"),
        F.md5("text").alias("rkey"),
    )
    return (
        keyed.groupBy("nkey")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("rkey").cast("long").alias("n_raw_forms"),
        )
        .filter(F.col("group_size") >= 2)
        .select("canonical_id", "group_size", "n_raw_forms")
    )


# --- Content-defined chunking (CDC) -----------------------------------------

#: CDC boundary contract shared by the Spark plans and their DuckDB
#: oracles: position i (1-based, i >= window) ends a chunk when the
#: first two hex chars of md5 over the trailing 16-char window are
#: <= '03' (P = 4/256 = 1/64 -> ~64-char expected chunks on the
#: ~300-char driver docs). Window hashing, not full-prefix hashing, is
#: what makes the boundaries CONTENT-DEFINED: an insertion shifts every
#: byte after it, but 16 bytes downstream the windows — and therefore
#: the boundaries — resynchronize, which fixed-size blocking never does.
_CDC_WINDOW = 16
_CDC_MASK = "03"

_CDC_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000000,
         'INSERTED PREFIX BYTES SHIFT EVERYTHING ' || text
  FROM documents
  WHERE CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 20 = 7
"""

def _cdc_chunks_cte(corpus_sql: str, prefix: str = "") -> str:
    """DuckDB CTE block chunking an arbitrary ``(doc_id, text)`` corpus
    under the CDC boundary contract — the SQL twin of
    :func:`_cdc_chunks_of`. ``prefix`` namespaces the CTE names so two
    corpora can be chunked in one query."""
    w, w1, mask = _CDC_WINDOW, _CDC_WINDOW - 1, _CDC_MASK
    p = prefix
    return f"""
{p}corpus AS ({corpus_sql}),
{p}bounds AS (
  SELECT doc_id, text, length(text) AS n,
         CASE WHEN length(text) >= {w} THEN
           list_filter(range({w}, length(text) + 1),
                       i -> substr(md5(substr(text, CAST(i - {w1} AS INT),
                                              {w})), 1, 2) <= '{mask}')
         ELSE [] END AS b
  FROM {p}corpus
),
{p}chunks AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(b) + 2),
           j -> substr(text,
                       CAST(CASE WHEN j = 1 THEN 1 ELSE b[CAST(j AS INT) - 1] + 1 END AS INT),
                       CAST(CASE WHEN j = len(b) + 1 THEN n ELSE b[CAST(j AS INT)] END
                            - CASE WHEN j = 1 THEN 1 ELSE b[CAST(j AS INT) - 1] + 1 END
                            + 1 AS INT))
         )) AS chunk
  FROM {p}bounds
)
"""


_CDC_CHUNKS_SQL = "WITH " + _cdc_chunks_cte(_CDC_CORPUS_SQL)


def _cdc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus a planted prefix-insertion clone slice (ids +40M).

    The driver corpus has no natural sub-document duplication, so a 5%
    md5-slice of docs is cloned with a PREFIX INSERTION — the exact
    transformation fixed-size blocking cannot survive — making the
    dedup mass a planted, scale-stable assertion that boundaries
    resynchronize.
    """
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 20
    )
    clones = d.filter(bucket == 7).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        F.concat(
            F.lit("INSERTED PREFIX BYTES SHIFT EVERYTHING "), F.col("text")
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(clones)


def _cdc_chunk_frame_hof(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    """Former array-HOF form of ``_cdc_chunk_frame``, retained as the
    A/B control for ``tools/cdc_ab.py`` (measured BASELINE §r14: the
    r13 interpreted-HOF diagnosis REFUTED — per-element md5 dominates;
    the 11.8x gain at both decades is scan WIDTH). ``wide=True``
    applies the row form's scan-width repartition so the A/B
    decomposes parallelism vs expression-form gains. Not wired to any
    registered query.
    """
    corpus = _cdc_corpus(spark, sf_dir)
    if wide:
        par = max(
            spark.sparkContext.defaultParallelism, corpus.rdd.getNumPartitions()
        )
        corpus = corpus.repartition(par, "doc_id")
    w, w1 = _CDC_WINDOW, _CDC_WINDOW - 1
    bounds = corpus.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.expr(
            f"CASE WHEN length(text) >= {w} THEN "
            f" filter(sequence({w}, length(text)),"
            f"        i -> substring(md5(cast(substring(text, i - {w1}, {w}) AS BINARY)),"
            f"                       1, 2) <= '{_CDC_MASK}')"
            " ELSE cast(array() AS array<int>) END"
        ).alias("b"),
    )
    return bounds.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(b) + 1),"
                " j -> substring(text,"
                "   CASE WHEN j = 1 THEN 1 ELSE element_at(b, j - 1) + 1 END,"
                "   (CASE WHEN j = size(b) + 1 THEN n ELSE element_at(b, j) END)"
                "     - (CASE WHEN j = 1 THEN 1 ELSE element_at(b, j - 1) + 1 END) + 1))"
            )
        ).alias("chunk"),
    ).filter(F.length("chunk") > 0)


def _cdc_chunk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk) rows for the planted-clone CDC corpus — see
    :func:`_cdc_chunks_of` for the physical shape."""
    return _cdc_chunks_of(spark, _cdc_corpus(spark, sf_dir))


def _cdc_chunks_of(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """(doc_id, chunk) rows under the CDC boundary contract above, for
    any ``(doc_id, text)`` corpus.

    Physical shape (row form, per the standing BASELINE.md expression
    rule): the per-position boundary test runs as a plain whole-stage-
    codegen projection over EXPLODED position rows — explode
    ``sequence(w, n)``, md5 the trailing window, filter to the ~1/64
    surviving boundary positions — so the md5-per-position work (the
    hot, O(corpus chars) part) never goes through Catalyst's
    interpreted lambda evaluator. Only (doc_id, int position) rows for
    the survivors shuffle into a per-doc ``collect_list``; the bounded
    boundary array (~n/64 ints per doc) then joins back to the corpus
    text on doc_id and chunk slicing is a ``transform`` over THAT
    bounded array (fine per the rule: per-doc-bounded, not
    per-position). The md5-per-position cost is the honest CDC price
    (FastCDC pays a gear-hash per byte the same way) and it
    parallelizes embarrassingly: at 100 TB the scan is a pure map over
    document splits and the only extra exchange vs the HOF form is the
    int-only boundary shuffle plus a linear join-back of the corpus.
    """
    # The boundary scan does ~one md5 per CHARACTER — 64x more CPU than
    # bytes read — so input-size-based splitting under-parallelizes it
    # badly (a 6 MB documents file -> 4 partitions -> 28 idle cores).
    # Widen to the session's core count, never narrowing what the file
    # layout already provides; the text shuffle this costs is linear and
    # ~64x cheaper than the digest work it parallelizes. Hash on doc_id
    # so the boundary-array join below reuses the same partitioning.
    par = max(
        spark.sparkContext.defaultParallelism, corpus.rdd.getNumPartitions()
    )
    corpus = corpus.repartition(par, "doc_id")
    w, w1 = _CDC_WINDOW, _CDC_WINDOW - 1
    # Generate + filter + project pipeline in ONE codegen stage: text is
    # a per-input-row local in the generated code, never materialized
    # per position row; only surviving (doc_id, i) pairs reach the
    # exchange.
    boundary_rows = (
        corpus.filter(F.length("text") >= w)
        .select(
            "doc_id",
            "text",
            F.explode(F.expr(f"sequence({w}, length(text))")).alias("i"),
        )
        .filter(
            F.expr(
                f"substring(md5(cast(substring(text, i - {w1}, {w}) AS BINARY)),"
                f" 1, 2) <= '{_CDC_MASK}'"
            )
        )
        .select("doc_id", "i")
    )
    barr = boundary_rows.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("i")).alias("b")
    )
    bounds = (
        corpus.select("doc_id", "text", F.length("text").alias("n"))
        .join(barr, "doc_id", "left")
        .withColumn("b", F.coalesce("b", F.expr("cast(array() AS array<int>)")))
    )
    return bounds.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(b) + 1),"
                " j -> substring(text,"
                "   CASE WHEN j = 1 THEN 1 ELSE element_at(b, j - 1) + 1 END,"
                "   (CASE WHEN j = size(b) + 1 THEN n ELSE element_at(b, j) END)"
                "     - (CASE WHEN j = 1 THEN 1 ELSE element_at(b, j - 1) + 1 END) + 1))"
            )
        ).alias("chunk"),
    ).filter(F.length("chunk") > 0)


@register(
    "q_cdc_chunk_dedup_stats",
    oracle=_CDC_CHUNKS_SQL
    + """,
digests AS (
  SELECT md5(chunk) AS dg, length(chunk) AS clen, COUNT(*) AS cnt
  FROM chunks WHERE length(chunk) > 0
  GROUP BY dg, clen
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_digests,
       CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_chunk_mass,
       CAST(SUM((cnt - 1) * clen) AS BIGINT) AS chars_saved,
       ROUND(SUM(cnt * clen) * 1.0 / SUM(cnt), 4) AS avg_chunk_len
FROM digests
""",
    tags=("dedup", "cdc", "chunking"),
)
def q_cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup ledger: split every document at
    md5-window boundaries (see ``_cdc_chunk_frame``), content-address
    the chunks, and report how much sub-document duplication a
    chunk-level store would collapse — total/distinct chunk counts,
    duplicated digests and their mass, and the CHARACTERS a dedup
    store saves (``chars_saved`` — ``length()`` is character-counted
    in both engines, so on non-ASCII corpora this under-reports octet
    savings; rsync/LBFS/FastCDC's economics, phrased as one
    aggregate). ``shared_chars`` in the pair query below has the same
    character semantics.

    Exact-doc dedup scores the planted prefix-insertion clones at 0;
    CDC recovers their shared suffix chunks — the assertion under test.
    Scale: one codegen map stage emits (digest, len); a single hash
    aggregation on the digest and a 1-row rollup follow. No joins, no
    skew (digests are uniform), linear in corpus bytes.
    """
    chunks = _cdc_chunk_frame(spark, sf_dir)
    digests = chunks.groupBy(
        F.md5(F.col("chunk").cast("binary")).alias("dg"),
        F.length("chunk").alias("clen"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return digests.agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).cast("long").alias("dup_digests"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("dup_chunk_mass"),
        F.sum((F.col("cnt") - 1) * F.col("clen")).cast("long").alias("chars_saved"),
        F.round(F.sum(F.col("cnt") * F.col("clen")) * 1.0 / F.sum("cnt"), 4).alias(
            "avg_chunk_len"
        ),
    )


@register(
    "q_cdc_shared_chunk_pairs",
    oracle=_CDC_CHUNKS_SQL
    + """,
doc_digests AS (
  SELECT DISTINCT doc_id, md5(chunk) AS dg, length(chunk) AS clen
  FROM chunks WHERE length(chunk) > 0
),
common AS (
  SELECT dg FROM doc_digests GROUP BY dg HAVING COUNT(*) <= 8
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*) AS shared_chunks, SUM(a.clen) AS shared_chars
  FROM doc_digests a
  JOIN common c ON a.dg = c.dg
  JOIN doc_digests b ON a.dg = b.dg AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
  HAVING COUNT(*) >= 3
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(shared_chunks AS BIGINT) AS shared_chunks,
       CAST(shared_chars AS BIGINT) AS shared_chars
FROM pairs
""",
    tags=("dedup", "cdc", "chunking", "pairs"),
)
def q_cdc_shared_chunk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs linked by >= 3 shared CDC chunks — sub-document
    near-dup discovery that exact dedup and even shingle-Jaccard at
    doc granularity miss (a prefix insertion drops doc-level Jaccard
    but leaves the chunk suffix set intact). Emits the pair plus the
    shared chunk count and byte mass.

    The digest self-join is bounded the same way every pair family in
    this module is: a document-frequency cap (df <= 8, the sparse-
    cosine ``df <= min(0.1n, 256)`` precedent) drops boilerplate
    digests BEFORE the join, so candidate mass is sum-of-df^2 over
    rare digests, not Theta(n^2); the >= 3 agreement floor then prunes
    accidental single-chunk collisions. Both filters replay exactly in
    the oracle.
    """
    chunks = _cdc_chunk_frame(spark, sf_dir)
    # Examined r17, left alone: doc_digests fans out to three consumers
    # and the static plan prints the chunking pipeline once per
    # consumer — but runtime ReuseExchange already deduplicates the
    # identical subtrees, so a dg-keyed persist+materialize of the
    # digest set measured consistently SLOWER across 4 interleaved
    # cross-checkout sessions (old 1.48-1.60 s vs new 1.57-2.85 s at
    # sf0.1): the cache job buys back work the engine wasn't repaying.
    doc_digests = chunks.select(
        "doc_id",
        F.md5(F.col("chunk").cast("binary")).alias("dg"),
        F.length("chunk").alias("clen"),
    ).distinct()
    common = (
        doc_digests.groupBy("dg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 8)
        .select("dg")
    )
    a = doc_digests.join(common, "dg")
    b = doc_digests.select(
        F.col("dg").alias("dg2"), F.col("doc_id").alias("doc_b")
    )
    return (
        a.join(b, (a["dg"] == b["dg2"]) & (a["doc_id"] < b["doc_b"]))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_chunks"),
            F.sum("clen").cast("long").alias("shared_chars"),
        )
        .filter(F.col("shared_chunks") >= 3)
        .select("doc_a", "doc_b", "shared_chunks", "shared_chars")
    )


_CDC_HIST_SQL = "SELECT doc_id, text FROM documents WHERE source <> 'src19'"

_CDC_BATCH_SQL = """
  SELECT doc_id, text FROM documents WHERE source = 'src19'
  UNION ALL
  SELECT doc_id + 50000000,
         'INSERTED PREFIX BYTES SHIFT EVERYTHING ' || text
  FROM documents
  WHERE source <> 'src19'
    AND CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 20 = 7
"""


@register(
    "q_cdc_incremental_chunk_dedup",
    oracle="WITH "
    + _cdc_chunks_cte(_CDC_HIST_SQL, "h")
    + ","
    + _cdc_chunks_cte(_CDC_BATCH_SQL, "b")
    + """,
store AS (
  SELECT DISTINCT md5(chunk) AS dg FROM hchunks WHERE length(chunk) > 0
),
bc AS (
  SELECT doc_id, md5(chunk) AS dg, length(chunk) AS clen
  FROM bchunks WHERE length(chunk) > 0
)
SELECT bc.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN s.dg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_chunks,
       CAST(SUM(CASE WHEN s.dg IS NOT NULL THEN clen ELSE 0 END) AS BIGINT)
         AS chars_saved,
       ROUND(1.0 * SUM(CASE WHEN s.dg IS NOT NULL THEN clen ELSE 0 END)
             / SUM(clen), 4) AS dedup_ratio
FROM bc LEFT JOIN store s ON bc.dg = s.dg
GROUP BY bc.doc_id
""",
    tags=("dedup", "cdc", "chunking", "incremental"),
)
def q_cdc_incremental_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC chunk-store dedup — the chunk family's
    continuous-ingestion shape (rsync/LBFS at the corpus level, and the
    chunk-level sibling of ``q_incremental_dedup_new_batch``): the
    arriving batch (source ``src19``) is chunked at md5-window
    boundaries and content-addressed against the HISTORY corpus's
    distinct chunk-digest store; per batch document it reports how many
    chunks the store already holds and the characters a chunk-level
    store deduplicates away.

    The synthetic corpus has no natural cross-source duplication, so a
    5% md5-slice of HISTORY docs is planted into the batch with a
    PREFIX INSERTION (ids +50M) — exactly the transformation fixed-size
    blocking cannot survive; CDC re-finds their suffix chunks in the
    store, making per-doc dedup_ratio a scale-stable planted assertion
    (near-0 for genuine src19 docs, high for the planted clones).

    Scale shape: both chunkers are the width-controlled row-form scan
    (:func:`_cdc_chunks_of`); the store is a distinct over 32-char
    digests (map-side partial agg); the probe is a digest equi-join
    whose left side is batch-bounded and whose right side shuffles only
    digests. At 100 TB the store is the persisted piece (bucketed by
    digest, the ``sources/dedup_index.py`` pattern) and only the
    arriving batch is chunked per run. Output is one row per batch doc.
    """
    d = _t(spark, sf_dir, "documents")
    hist = d.filter(F.col("source") != "src19").select("doc_id", "text")
    store = (
        _cdc_chunks_of(spark, hist)
        .select(F.md5(F.col("chunk").cast("binary")).alias("dg"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 20
    )
    clones = d.filter((F.col("source") != "src19") & (bucket == 7)).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.concat(
            F.lit("INSERTED PREFIX BYTES SHIFT EVERYTHING "), F.col("text")
        ).alias("text"),
    )
    batch = (
        d.filter(F.col("source") == "src19")
        .select("doc_id", "text")
        .unionByName(clones)
    )
    bc = _cdc_chunks_of(spark, batch).select(
        "doc_id",
        F.md5(F.col("chunk").cast("binary")).alias("dg"),
        F.length("chunk").alias("clen"),
    )
    return (
        bc.join(store, "dg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("dup_chunks"),
            F.sum(F.when(F.col("hit").isNotNull(), F.col("clen")).otherwise(0))
            .cast("long")
            .alias("chars_saved"),
            F.round(
                F.sum(F.when(F.col("hit").isNotNull(), F.col("clen")).otherwise(0))
                * 1.0
                / F.sum("clen"),
                4,
            ).alias("dedup_ratio"),
        )
    )
