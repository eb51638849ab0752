"""Deduplication operators: exact, key-based, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB (SURVEY.md §7.2 step 6):
- Everything is hash-partitioned DataFrame ops — no global sorts, no
  driver-side pair enumeration.
- Near-dup never does the O(n²) cross join: LSH banding (MinHash) /
  chunk pigeonholing (SimHash) / hyperplane bucketing (embeddings)
  produce candidate pairs via equi-joins on bucket keys, then exact
  verification runs only on candidates.
- Signatures are built via explode → flat hash columns → groupBy-min,
  NOT array higher-order functions: Spark's lambda HOFs
  (transform/aggregate/zip_with) are CodegenFallback — interpreted,
  ~10µs/element — while explode + xxhash64 + hash-aggregate stay inside
  whole-stage codegen (~50ns/element, measured 100×+ faster here).
  HOFs are kept only for per-document work that is O(1)-ish per row
  (final fingerprint assembly).

MinHash/LSH banding follows the standard scheme (Broder 1997; Leskovec
et al., "Mining of Massive Datasets" ch. 3): a document's signature is
``sig[j] = min over shingles s of h_j(s)``, rows are grouped into
``bands`` bands of ``r`` rows, and two documents collide if any band
hashes equal.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# -- tokenization / shingling ----------------------------------------------

def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace: canonical form for dedup keys."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def canonical_nkey(text: Column) -> Column:
    """md5 digest of the crawl canonicalization (lowercase, punctuation
    to spaces, collapse whitespace, trim) — THE dedup group key, shared
    by `q_canonicalized_dedup_groups` and the composed curation
    pipeline so the two plans cannot drift apart (a change here changes
    both, and both oracles must move with it)."""
    return F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(text), "[^a-z0-9 ]", " "), r"\s+", " "
            )
        )
    )


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the normalized text (array<string>).

    Short texts (< k chars) yield the whole text as a single shingle so
    they still participate in dedup.

    Array-form convenience for tests / small inputs: the lambda captures
    the normalize subtree, which Catalyst re-evaluates PER SHINGLE
    (O(len²) per doc — measured 6.8× on the repeated-span family, r13).
    Hot paths use :func:`shingle_rows`, whose substring runs over a
    projected attribute inside whole-stage codegen.
    """
    norm = normalize_text(col)
    n = F.length(norm) - F.lit(k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: norm.substr(i, F.lit(k)),
    )
    return F.array_distinct(grams)


def token_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (array<string>) of the normalized text.

    Array-form convenience — same per-element subtree-recompute caveat
    as :func:`char_shingles`; hot paths use :func:`ngram_rows`."""
    toks = F.split(normalize_text(col), " ")
    cnt = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string-array set columns."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# -- row-form shingling (codegen-friendly scale path) ----------------------

def shingle_rows(df: DataFrame, id_col: str, text_col: str, *, k: int = 5) -> DataFrame:
    """Character k-gram rows ``(_id, _gram)`` — explode form of
    :func:`char_shingles`, NOT distinct (dedup downstream if set
    semantics are needed; MinHash doesn't care — min over duplicates is
    the min).

    ``substring(norm, pos, k)`` with a column ``pos`` stays in
    whole-stage codegen, unlike the transform-lambda array form.
    """
    norm = normalize_text(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("_id"), norm.alias("_norm"))
        .select(
            "_id",
            "_norm",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_norm") - F.lit(k - 1), F.lit(1)))
            ).alias("_pos"),
        )
        .select("_id", F.col("_norm").substr(F.col("_pos"), F.lit(k)).alias("_gram"))
    )


def ngram_rows(df: DataFrame, id_col: str, text_col: str, *, n: int = 3) -> DataFrame:
    """Word n-gram rows ``(_id, _gram)`` — explode form of
    :func:`token_ngrams`, not distinct."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    return (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select(
            "_id",
            "_toks",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("_toks") - F.lit(n - 1), F.lit(1)))
            ).alias("_pos"),
        )
        .select("_id", F.concat_ws(" ", F.slice("_toks", F.col("_pos"), n)).alias("_gram"))
    )


def gram_tokens_col(text: Column) -> Column:
    """THE tokenization behind the word-n-gram dedup family: normalize
    (lowercase, collapse whitespace) then single-space split. Project it
    to a column before feeding a transform lambda (see
    :func:`span_gram_hashes_from_toks` for the per-element
    subtree-recompute trap)."""
    return F.split(normalize_text(text), " ")


def distinct_gram_hashes_from_toks(toks: Column, n: int = 3) -> Column:
    """Distinct xxhash64'd word-``n``-grams over an ALREADY-PROJECTED
    token-array column — the document-local twin of
    ``ngram_rows(...).distinct()`` + ``xxhash64``: same tokenization,
    same gram slices, same hashing, but computed per row, so the
    distinct needs NO shuffle (the gram set is a property of one
    document) and a stream can evaluate it without state."""
    return F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
            ),
            lambda p: F.xxhash64(F.concat_ws(" ", F.slice(toks, p, n))),
        )
    )


def doc_gram_index(
    docs: DataFrame,
    *,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_out: str = "_hid",
    sz_out: str = "_szh",
) -> DataFrame:
    """Inverted gram index ``(id_out, sz_out, _g)`` via the STATELESS
    array form: per-doc distinct is an array_distinct (document-local
    property), the size rides along from the same array, and the
    explode is map-side — legal on a STREAMING DataFrame, which cannot
    run the row-form's distinct (a stateful shuffle).

    ONLY for stream sides and tests: array higher-order functions are
    interpreted, not codegen'd — on a static corpus this form measured
    10× slower than :func:`gram_rows_hashed` (34.6 s vs 3.5 s, sf1,
    round 13). Static/batch callers use :func:`gram_rows_hashed`;
    both produce the identical (doc, gram-hash) set from the same
    tokenization+hash (asserted in tests/test_dedup_index.py)."""
    return (
        docs.select(
            F.col(id_col).alias(id_out),
            gram_tokens_col(F.col(text_col)).alias("_toks"),
        )
        .select(
            id_out, distinct_gram_hashes_from_toks(F.col("_toks"), n).alias("_gs")
        )
        .select(
            id_out, F.size("_gs").alias(sz_out), F.explode("_gs").alias("_g")
        )
    )


def gram_rows_hashed(
    docs: DataFrame,
    *,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_out: str = "_id",
) -> DataFrame:
    """Distinct ``(id_out, _g)`` word-n-gram hash rows via the CODEGEN
    row form — :func:`ngram_rows` explode + one xxhash64 projection +
    a hash-shuffled distinct. The batch/static twin of
    :func:`doc_gram_index` (same tokenization, same gram slices, same
    hash → identical row set); 10× faster on a static corpus because
    every expression stays inside whole-stage codegen where the array
    form pays interpreted HOF eval per element."""
    return (
        ngram_rows(docs, id_col, text_col, n=n)
        .select(F.col("_id").alias(id_out), F.xxhash64("_gram").alias("_g"))
        .distinct()
    )


def span_gram_rows(
    docs: DataFrame,
    *,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional gram-hash rows ``(doc_id, pos, g)`` via the CODEGEN
    row form — explode the position sequence, then hash the slice as a
    plain projection. Identical content to
    ``posexplode(span_gram_hashes_from_toks(...))`` (verified by
    count+hash at sf1) but 2× faster: the HOF form pays interpreted
    eval per element even over a projected attribute. Shared by the
    batch repeated-span plan and its streaming twin (explode is
    streaming-legal and stateless)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            span_tokens_col(F.col(text_col)).alias("_toks"),
        )
        .filter(F.size("_toks") >= k)
        .select(
            "doc_id",
            "_toks",
            F.explode(
                F.sequence(F.lit(1), F.size("_toks") - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.array_join(F.slice("_toks", F.col("pos"), k), " ")).alias(
                "g"
            ),
        )
    )


def pair_jaccard(candidates: DataFrame, gram_rows: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate ``(id_a, id_b)`` pairs from a distinct
    gram-row inverted index ``(_id, _gram)``.

    All equi-joins + hash aggregates — codegen end to end; pairs with
    zero overlap drop out (their Jaccard is 0).
    """
    sizes = gram_rows.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    ga = gram_rows.select(F.col("_id").alias("id_a"), "_gram")
    gb = gram_rows.select(F.col("_id").alias("id_b"), "_gram")
    inter = (
        candidates.join(ga, "id_a")
        .join(gb, ["id_b", "_gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter") / (F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")), 4
            ).alias("jaccard_sim"),
        )
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism — only when
    the input has fewer partitions.

    A small parquet file arrives as ONE scan partition, which would run
    every map-side stage of a signature pipeline on one core (measured:
    the entire MinHash hot path single-threaded). The guard keeps this
    a no-op on real multi-file inputs, so at scale nothing is shuffled.
    """
    if df.isStreaming:
        # no .rdd on a stream; micro-batch parallelism is the source
        # rate's business (maxFilesPerTrigger etc.), not this guard's
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# -- exact dedup -----------------------------------------------------------

def exact_dedup(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exact dedup: full-row (``keys=None``) or key-based.

    ≙ flows/etl.py:304's ``drop_duplicates()``; implemented as a hash
    aggregate (map-side partial combine), not a sort.
    """
    return df.dropDuplicates() if keys is None else df.dropDuplicates(keys)


def dedup_clusters(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Group rows by a content key; emit representative id + copy count.

    The representative is ``min(id)`` — deterministic, unlike "first".
    """
    return (
        df.select(F.col(id_col).alias("_id"), key.alias("_key"))
        .groupBy("_key")
        .agg(
            F.min("_id").alias("representative_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -- MinHash + LSH ---------------------------------------------------------

def band_hashes(bands: int, rows_per_band: int) -> Column:
    """Hash each band of the ``_h0.._h{n-1}`` signature columns →
    array<bigint> of length ``bands``.

    One flat ``array(xxhash64(_h0, _h1, 0), …)`` expression: xxhash64
    over several arguments chains each value's hash into the next
    one's seed, exactly as it walks the elements of an array, so band
    ``b`` is bit-identical to ``xxhash64(slice(sig, b·r+1, r), b)``
    (pinned in tests/test_dedup.py) without a lambda, which Spark
    would interpret instead of compiling. The band index rides along
    so equal slices in different bands don't collide.
    """
    members = ", ".join(
        "xxhash64("
        + ", ".join(f"_h{b * rows_per_band + j}" for j in range(rows_per_band))
        + f", {b})"
        for b in range(bands)
    )
    return F.expr(f"array({members})")


def minhash_gram_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 5,
    use_token_ngrams: bool = False,
) -> DataFrame:
    """The hashed gram rows ``(_id, _gram)`` (int64, duplicates
    preserved) every MinHash frame is aggregated from, keyed by
    ``_id``. See :func:`minhash_near_dup_pairs` for the shape/codegen
    notes."""
    rows = (
        ngram_rows(df, id_col, text_col, n=shingle_k)
        if use_token_ngrams
        else shingle_rows(df, id_col, text_col, k=shingle_k)
    ).select("_id", F.xxhash64("_gram").alias("_gram"))
    # Key the gram rows by _id RIGHT AFTER the explode (r17, guide
    # §2.4): every downstream keyed operation — the 64-member
    # signature agg (groupBy _id), the set-semantics dedup
    # (dropDuplicates on [_id,_gram]: hash(_id) clusters it), the
    # verify-side sizes agg — is then satisfied by this ONE
    # exchange instead of each inserting its own. The shuffle
    # carries barely more than the distinct mass it replaces:
    # (_id,_gram) duplicates are intra-document only, so the old
    # plan's map-side partial dedup shipped nearly the same bytes,
    # three separate times (one per re-executed dropDuplicates
    # consumer in pair_jaccard). Measured r17 (interleaved sf0.1
    # A/B with the cache materialization below): inflight pairs
    # ~3.5 → ~2.4 s steady, plan 8 → 2 executed exchanges.
    return rows.repartition("_id")


def minhash_sig_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    shingle_k: int = 5,
    use_token_ngrams: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The inflight MinHash SIGNING pass: ``(sig, rows)`` where ``sig``
    is one row per doc with the ``n_hashes`` min-hash members
    (``_id, _h0.._h{n-1}``) and ``rows`` is :func:`minhash_gram_rows`.
    Pure function of (corpus, n_hashes, shingle_k, use_token_ngrams);
    the persisted MinHash index
    (:mod:`etl_project_spark.sources.dedup_index`) aggregates the same
    rows with :func:`minhash_doc_frame`, so served and inflight
    signatures are definitionally identical.
    """
    rows = minhash_gram_rows(
        df, id_col, text_col, shingle_k=shingle_k, use_token_ngrams=use_token_ngrams
    )
    return minhash_sig_from_rows(rows, n_hashes=n_hashes), rows


def _minhash_members(n_hashes: int) -> str:
    # One SQL-parsed struct expression instead of n_hashes×4 py4j column
    # calls: building 64 F.min(F.xxhash64(...)).alias(...) trees cost
    # ~0.45 s of driver-side py4j chatter PER PLAN BUILD (measured r17;
    # paid by every query in the minhash family, every bench pass); the
    # single-expr form is 0.11 s with a bit-identical aggregate
    # (xxhash64(_gram, j) in SQL is the same multi-arg hash).
    return ", ".join(f"min(xxhash64(_gram, {j})) AS _h{j}" for j in range(n_hashes))


def minhash_sig_from_rows(rows: DataFrame, *, n_hashes: int = 64) -> DataFrame:
    """The signature aggregation over hashed-gram rows ``(_id, _gram)``.
    ``min`` is duplicate-insensitive, so the signature over distinct
    rows is bit-identical to one over raw rows."""
    return (
        rows.groupBy("_id")
        .agg(F.expr(f"struct({_minhash_members(n_hashes)}) AS _s"))
        .select("_id", "_s.*")
    )


def minhash_doc_frame(rows: DataFrame, *, n_hashes: int = 64) -> DataFrame:
    """The persisted MinHash index's one per-document frame
    ``(_id, _h0.._h{n-1}, _g)`` from hashed-gram rows: the
    :func:`minhash_sig_from_rows` signature plus ``_g``, the document's
    sorted distinct gram-hash set (``array<bigint>``) that the
    gram-set verify (:func:`gram_set_jaccard`) intersects. Both come
    from the same ``groupBy(_id)``; the sort makes the frame a pure
    function of the document, whatever order its rows arrive in.
    """
    return (
        rows.groupBy("_id")
        .agg(
            F.expr(
                f"struct({_minhash_members(n_hashes)}, "
                "array_sort(collect_set(_gram)) AS _g) AS _s"
            )
        )
        .select("_id", "_s.*")
    )


def gram_set_jaccard(candidates: DataFrame, frame: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate ``(id_a, id_b)`` pairs from per-doc
    distinct gram sets ``(_id, _g)``: one join per pair side and
    ``size(array_intersect)`` over the two sets, rounded as
    :func:`pair_jaccard` rounds. The set form of :func:`pair_jaccard`
    (same values), without its per-gram joins and aggregates.
    """
    ga = frame.select(F.col("_id").alias("id_a"), F.col("_g").alias("_ga"))
    gb = frame.select(F.col("_id").alias("id_b"), F.col("_g").alias("_gb"))
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ga", "_gb")).alias("_inter"),
            (F.size("_ga") + F.size("_gb")).alias("_sz"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_inter") / (F.col("_sz") - F.col("_inter")), 4).alias(
                "jaccard_sim"
            ),
        )
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    use_token_ngrams: bool = False,
    prefilter: bool = True,
    signed: DataFrame | None = None,
    probe_ids: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact Jaccard verify.

    Returns ``(id_a, id_b, jaccard_sim)`` with ``id_a < id_b`` and
    ``jaccard_sim >= threshold``.

    ``probe_ids`` (a one-column ``_id`` frame, typically the arriving
    batch) restricts the output to pairs with AT LEAST ONE member in
    the probe set — the incremental-discovery shape: candidate
    generation becomes probe-banded × corpus-banded instead of the
    corpus self-join, so candidate mass scales with the BATCH's band
    collisions, not the corpus's. Recall argument is unchanged (every
    qualifying pair has a probe-side member whose banded rows carry
    all its band hashes); pair orientation is re-normalized with
    least/greatest since the probe side may hold the larger id. The
    agreement-estimator prefilter is skipped in probe mode — candidate
    mass is already batch-bounded, which is the prefilter's job.

    ``signed`` is the persisted MinHash index's per-document frame
    ``(_id, _h0.._h{n-1}, _g)`` (:func:`minhash_doc_frame`, read by
    ``sources.dedup_index.load_minhash_index``): the signing pass is
    skipped, and candidates are verified against the stored gram sets
    (:func:`gram_set_jaccard`). Without it the text is signed inflight
    and verified with the row-form :func:`pair_jaccard`.

    Scale shape (all whole-stage-codegen, no lambda HOFs in the hot
    path): shingle explode → 64 flat ``min(xxhash64(gram, j))``
    aggregates per doc (map-side partial combine collapses to one row
    per doc before the shuffle) → per-doc band hashing (one flat
    ``xxhash64`` per band) → band explode (long+id rows only) → self-equi-join on
    (band_idx, band_hash) → **signature-agreement prefilter** (the
    fraction of equal minhash components is an unbiased Jaccard
    estimator; a flat 64-term comparison, two narrow sig joins) →
    exact-Jaccard verify via inverted-index joins on the shingle rows,
    now only on statistically-plausible pairs. ``prefilter=False`` skips
    the estimator stage — right when banding is already selective for
    the threshold (LSH threshold ``(1/b)^(1/r)`` ≤ user threshold and
    low background similarity), where it only adds plan width. No cross join anywhere;
    every shuffle key is a hash — skew-free by construction.

    The prefilter matters: banding with (b, r) admits pairs near the
    LSH threshold (1/b)^(1/r), so a user threshold below that point
    floods the verify stage (measured 500k candidates → 33 s at 5 k
    docs). The estimator margin ``3·σ = 3·√(t(1-t)/n_hashes)`` keeps
    recall while cutting verify input by ~100×.
    """
    from pyspark import StorageLevel

    from etl_project_spark.session import scoped_persist

    if probe_ids is not None and prefilter:
        # Part of the API contract, not just prose (ADVICE r16): the
        # probe branch returns before the estimator stage, so a caller
        # asking for both would silently get a different plan shape
        # than requested. Candidate mass in probe mode is already
        # batch-bounded — which is the prefilter's whole job.
        raise ValueError(
            "probe_ids and prefilter are mutually exclusive: the "
            "agreement-estimator prefilter is skipped in probe mode "
            "(candidate mass is already batch-bounded); pass "
            "prefilter=False"
        )
    rows_per_band = n_hashes // bands
    if signed is None:
        # Grams are hashed to int64 AT THE SOURCE (round-8; same device
        # and documented collision bound as ngram_jaccard_pairs): every
        # downstream consumer — the 64-member signature family, the
        # persisted cache, the exact-verify inverted index — needs only
        # a stable gram identity, never the text, so the ~50-byte gram
        # strings are dropped before anything is cached or shuffled. At
        # the sf10 sweep the persisted gram rows were ~40 GB as strings
        # (the cache pressure that GC-killed the 8 g JVM) vs ~8 GB as
        # longs, and the verify join's candidate×gram intermediate
        # slims by the same factor. The signature values are UNCHANGED:
        # the member family was already xxhash64(xxhash64(gram), j).
        #
        # Hash family: ONE xxhash64 over the gram string, then 64
        # derived members by re-hashing the resulting 8-byte long with
        # the member index as seed column. Hashing 8 fixed bytes beats
        # hashing the string 64× (~1.7× faster measured), and the
        # expression stays small enough that its one-off codegen
        # compile is cheap — a multiply-add mod-p family was faster
        # steady-state but ~1 s slower to compile, a loss for run-once
        # plans. Derived members of a single 64-bit hash are min-wise
        # independent enough here because candidates are verified with
        # exact Jaccard anyway.
        sig, rows = minhash_sig_rows(
            ensure_parallelism(df),
            id_col,
            text_col,
            n_hashes=n_hashes,
            shingle_k=shingle_k,
            use_token_ngrams=use_token_ngrams,
        )
        # sig feeds 4 plan branches (band self-join ×2 + both prefilter
        # sides); without persist Spark re-executes the
        # shingle+signature stages once per branch (measured 5×
        # recompute). sig is tiny (n_docs × 64 longs). Tracked for
        # harness-side release (session.release_persists) — a builder
        # can't unpersist caches its caller's action still needs.
        sig = scoped_persist(sig, StorageLevel.MEMORY_AND_DISK)
        # r18 (VERDICT r17 #3, the cold one-shot): the gram rows are
        # NOT persisted and nothing is eagerly counted. All four rows
        # consumers (the signature agg + the verify stage's sizes/ga/gb
        # over dropDuplicates) sit in ONE query plan above the
        # repartition("_id") exchange from minhash_sig_rows, so AQE's
        # stage reuse computes the text scan + shingle explode once and
        # each consumer re-reads the shuffle files locally — the
        # disk-backed materialization a cache job would buy, without
        # the extra driver-visible action the cold path was paying
        # (clean-window cold 6.6→6.9 in r17; the count job IS the
        # signing pass, serialized ahead of everything else). The
        # keyed layout still holds: every consumer is clustered on _id
        # by the reused exchange, zero further exchanges.
    else:
        # Served from the persisted MinHash index: the signing pass
        # (shingle explode + 64-way min agg — the dominant cost) was
        # paid at persist time; the parquet frame re-reads cheaply per
        # branch, so no session cache is taken out here.
        sig, rows = signed, None
    bh = band_hashes(bands, rows_per_band)
    banded = sig.select("_id", F.posexplode(bh).alias("_band_idx", "_band_hash"))
    if probe_ids is not None:
        # Probe-restricted candidates: only the (small) probe side's
        # banded rows enter the left of the band join, and the
        # inequality is != (not <) because the probe member may be
        # either side of the ordered pair; least/greatest re-normalizes
        # and distinct() collapses the probe-probe pairs seen from both
        # orientations. The semi-join lands on the signature frame
        # BELOW the band explode (r18), so only probe docs pay the
        # bands-per-doc explode.
        left = (
            sig.join(probe_ids.select("_id"), "_id", "left_semi")
            .select("_id", F.posexplode(bh).alias("_band_idx", "_band_hash"))
            .alias("l")
        )
        right = banded.alias("r")
        candidates = (
            left.join(
                right,
                (F.col("l._band_idx") == F.col("r._band_idx"))
                & (F.col("l._band_hash") == F.col("r._band_hash"))
                & (F.col("l._id") != F.col("r._id")),
            )
            .select(
                F.least("l._id", "r._id").alias("id_a"),
                F.greatest("l._id", "r._id").alias("id_b"),
            )
            .distinct()
        )
        # No join here carries a broadcast hint: the probe's size is the
        # caller's promise, not something the plan knows, so the
        # planner and AQE pick each join from the sizes they see (the
        # batch-sized candidate side broadcasts at run time).
        if rows is None:
            return gram_set_jaccard(candidates, signed).filter(
                F.col("jaccard_sim") >= threshold
            )
        # Inflight verify-side restriction (round-16 verdict #7): the
        # exact verify only ever looks at docs in some candidate pair,
        # so the gram rows are semi-joined to the candidate id set
        # before the distinct. Both small frames are persisted:
        # candidates feeds pair_jaccard plus the semi-join under each of
        # the gram frame's three consumers (sizes, ga, gb), and caching
        # the restricted gram rows collapses their three re-reads.
        candidates = scoped_persist(candidates, StorageLevel.MEMORY_AND_DISK)
        cand_ids = (
            candidates.select(F.col("id_a").alias("_id"))
            .unionByName(candidates.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        distinct_grams = scoped_persist(
            rows.join(cand_ids, "_id", "left_semi").dropDuplicates(["_id", "_gram"]),
            StorageLevel.MEMORY_AND_DISK,
        )
        return pair_jaccard(candidates, distinct_grams).filter(
            F.col("jaccard_sim") >= threshold
        )
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l._band_idx") == F.col("r._band_idx"))
            & (F.col("l._band_hash") == F.col("r._band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        # The distinct() is the RIGHT dedup here — adjudicated round 12
        # (BASELINE §r12) against the simhash-style canonical-collision
        # filter the r10 verdict prescribed. Measured at sf1: band-join
        # multiplicity is 1.26 (5.43M raw matches / 4.29M pairs), so
        # the shuffle carries the candidate SET, not meaningful
        # duplicate mass — the opposite regime from simhash's combo
        # postings (multiplicity ~180 at sf10), where the filter wins.
        # The transferred filter also needs the 16-term band-match mask
        # over two carried band-hash ARRAYS; Catalyst pushes that mask
        # into the band join's residual condition, degrading the whole
        # pipelined stage (matched-session sf1 A/B: 13.3 s -> 29.1 s
        # steady). Keep distinct(): map-side partial agg + one narrow
        # (id, id) exchange.
        .distinct()
    )

    if prefilter:
        # selectExpr / single-expr forms for the same py4j-chatter reason
        # as minhash_sig_from_rows (identical expressions, fewer driver
        # round-trips building them).
        sa = sig.selectExpr(
            "_id AS id_a", *[f"_h{j} AS _ha{j}" for j in range(n_hashes)]
        )
        sb = sig.selectExpr(
            "_id AS id_b", *[f"_h{j} AS _hb{j}" for j in range(n_hashes)]
        )
        agree = F.expr(
            "(" + " + ".join(
                f"CAST(_ha{j} = _hb{j} AS INT)" for j in range(n_hashes)
            ) + f") / {float(n_hashes)}"
        )
        margin = 3.0 * (threshold * (1.0 - threshold) / n_hashes) ** 0.5
        candidates = (
            candidates.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(agree >= max(0.0, threshold - margin))
            .select("id_a", "id_b")
        )

    if rows is None:
        return gram_set_jaccard(candidates, signed).filter(
            F.col("jaccard_sim") >= threshold
        )
    distinct_grams = rows.dropDuplicates(["_id", "_gram"])
    return pair_jaccard(candidates, distinct_grams).filter(
        F.col("jaccard_sim") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard pairs — physical plan chosen by the
    threshold, because the prefix filter's pruning power IS the
    threshold (round-12 matched measurements, sf1 corpus):

    - ``t ≥ 0.4`` → :func:`jaccard_prefix_filter_pairs`. At t=0.5 the
      prefix is ~half the gram rows and the length/positional bounds
      bite: 92.3/89.8 s → 27.0/21.9 s cold interleaved, and sf10 went
      from spill-disk death to 62.8 s.
    - ``t < 0.4`` → the plain inverted-index self-join. At t=0.2 the
      prefix is ~80 % of the grams and the bounds are loose, so the
      filtered plan's THREE joins (prefix self-join + candidate
      distinct + full-gram verify) cost 190.7 s where the naive
      single self-join costs 17.5 s — a 10× regression the other way.
      The Θ(Σ df²) shared-gram mass this form carries on the sf10
      mirror corpus remains disk-bound there (BASELINE §r12); the
      capped twin is the bounded-feature fallback.

    Same answer either way (the filters are lossless theorems,
    pinned by test_prefix_filter_equals_plain_inverted_index); the
    crossover mirrors the simhash-vs-LSH multiplicity rule: measure
    which mass dominates before choosing the clever plan.
    """
    if threshold >= 0.4:
        return jaccard_prefix_filter_pairs(
            df, id_col, text_col, n=n, threshold=threshold
        )
    inv = (
        ngram_rows(ensure_parallelism(df), id_col, text_col, n=n)
        .select("_id", F.xxhash64("_gram").alias("_g64"))
        .dropDuplicates(["_id", "_g64"])
    )
    return _inverted_index_jaccard(
        inv, threshold, guard_twin="ngram_jaccard_pairs_capped"
    )


class CandidateMassExceeded(RuntimeError):
    """Raised by the uncapped exact-pair forms when the PREDICTED
    candidate mass exceeds the configured budget — a fast, clean
    refusal instead of minutes of executor churn ending in a spill-disk
    stage death (the round-16 sweep's four inherent sf10 fails)."""


#: Refusal budget for Σ df·(df−1)/2 over the gram inverted index — the
#: EXACT candidate-row count of the pair self-join (a gram shared by
#: ``df`` docs emits df·(df−1)/2 rows; Θ(Σ cluster²) on mirror-cluster
#: corpora). Derivation, measured on the sweep replicas (round 17):
#: sf1 passes at 5.8e7; sf10 dies at 5.2e9 — ≈125 GB of (long, long)
#: candidate shuffle before aggregation, past the host's free disk.
#: 1e9 sits 17× above the largest passing decade and 5× below the
#: dying one (≈24 GB shuffled — inside the spill envelope local[32]
#: has survived elsewhere). Override per deployment:
#: ``SPARK_GRAFT_PAIR_MASS_BUDGET``.
def _pair_mass_budget() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_PAIR_MASS_BUDGET", 1_000_000_000))


def _guard_candidate_mass(inv: DataFrame, *, capped_twin: str) -> None:
    """Pre-flight candidate-mass estimate for an inverted-index pair
    self-join (round-16 verdict #3): one column-pruned aggregate over
    the gram frequencies — Σ df·(df−1)/2, the exact row count the
    self-join would emit — refuses in seconds (13.8 s at sf10, where
    the join itself burns minutes of churn before dying) with an error
    naming the bounded-feature twin. The aggregate reuses the persisted
    ``inv`` rows the main plan needs anyway, so decades under budget
    pay one cheap map-side-combined agg, not a second gram build."""
    mass = inv.groupBy("_g64").agg(
        F.count(F.lit(1)).alias("_df")
    ).agg(
        F.sum(F.col("_df") * (F.col("_df") - 1) / 2).alias("_mass")
    ).collect()[0]["_mass"]
    budget = _pair_mass_budget()
    if mass is not None and mass > budget:
        raise CandidateMassExceeded(
            f"predicted pair-candidate mass {mass:.3e} exceeds budget "
            f"{budget:.1e} (set SPARK_GRAFT_PAIR_MASS_BUDGET to raise): "
            f"the uncapped exact pair join would shuffle ~{mass * 24 / 1e9:.0f} GB "
            f"of candidates; use the bounded-feature twin {capped_twin} "
            "instead"
        )


def _inverted_index_jaccard(
    inv: DataFrame, threshold: float, *, guard_twin: str | None = None
) -> DataFrame:
    """Pair Jaccard from distinct ``(_id, _g64)`` inverted-index rows:
    self-join on the gram hash → shared-gram counts per pair →
    ``|A∩B| / (|A| + |B| - |A∩B|)``. Sizes come from the SAME rows, so
    a caller that pre-filters the gram universe (the capped variant)
    gets exact Jaccard over the filtered feature set.

    ``guard_twin`` (the uncapped callers) persists the rows and arms
    the candidate-mass refusal; the capped variant leaves it off — its
    mass is bounded by construction (≤ df_cap²·|grams| linear in
    corpus), so the probe would be a wasted action."""
    if guard_twin is not None:
        from pyspark import StorageLevel

        from etl_project_spark.session import scoped_persist

        # inv feeds 3 plan branches (sizes + both join sides) plus the
        # guard aggregate; persisting pays the gram build once.
        inv = scoped_persist(inv, StorageLevel.MEMORY_AND_DISK)
        _guard_candidate_mass(inv, capped_twin=guard_twin)
    sizes = inv.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a._g64") == F.col("b._g64")) & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sz_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter")
                / (F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")),
                4,
            ).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.3,
    df_cap: int = 64,
) -> DataFrame:
    """Exact n-gram Jaccard pairs over the DF-capped gram universe —
    the production escape hatch for mirror-cluster corpora, WITH an
    in-band audit of what the cap dropped.

    The uncapped exact family is candidate-bound: a gram shared by
    ``d`` documents emits ``d·(d-1)/2`` candidate rows, so Θ(Σ
    cluster²) on corpora with large near-identical clusters (the sf10
    sweep's disk-exhaust). Capping the gram DOCUMENT FREQUENCY at
    ``df_cap`` bounds per-gram fan-out at ``df_cap²`` — candidate mass
    becomes linear in corpus size — while the Jaccard over the
    surviving grams stays exact (sizes and intersections both use the
    capped universe, so the statistic is well-defined, not an
    approximation of the uncapped one).

    Output is a discriminated union: ``kind='pair'`` rows carry
    ``(id_a, id_b, jaccard_sim)``; ONE ``kind='audit'`` row reports
    what the cap did — ``id_a`` = number of distinct grams dropped,
    ``id_b`` = number of documents that lost at least one gram,
    ``jaccard_sim`` NULL. On a corpus where no gram exceeds the cap
    the audit row is zeros and the pair set equals the uncapped
    family's exactly.
    """
    inv = (
        ngram_rows(ensure_parallelism(df), id_col, text_col, n=n)
        .select("_id", F.xxhash64("_gram").alias("_g64"))
        .dropDuplicates(["_id", "_g64"])
    )
    # DF tagging shuffles on _g64 — the same key the inverted-index
    # self-join uses, so AQE reuses the exchange partitioning.
    gdf = inv.groupBy("_g64").agg(F.count(F.lit(1)).alias("_df"))
    tagged = inv.join(gdf, "_g64")
    kept = tagged.filter(F.col("_df") <= df_cap).select("_id", "_g64")
    dropped = tagged.filter(F.col("_df") > df_cap)
    audit = dropped.agg(
        F.countDistinct("_g64").alias("_ng"),
        F.countDistinct("_id").alias("_nd"),
    ).select(
        F.lit("audit").alias("kind"),
        F.col("_ng").alias("id_a"),
        F.col("_nd").alias("id_b"),
        F.lit(None).cast("double").alias("jaccard_sim"),
    )
    pairs = _inverted_index_jaccard(kept, threshold).select(
        F.lit("pair").alias("kind"), "id_a", "id_b", "jaccard_sim"
    )
    return pairs.unionByName(audit)


# -- SimHash ---------------------------------------------------------------

def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document 64-bit SimHash as ``(_id, _sim)`` rows.

    Arrow-batched mapInPandas: fingerprinting is embarrassingly
    parallel per document — tokenize, hash tokens (md5-derived 64-bit,
    process-stable), and bit-vote with one numpy reduction per batch.
    No explode, no shuffle, no wide aggregate. (A prior pure-SQL
    version — explode + 64 flat sum aggregates — was correct and
    shuffle-light, but its cold codegen compile alone cost ~6 s; the
    Python path is both simpler and faster end to end.)
    """
    import hashlib as _hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(64, dtype=np.uint64)

        def bitvec(tok: str) -> "np.ndarray":
            h = np.uint64(
                int.from_bytes(_hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            )
            return ((h >> shifts) & np.uint64(1)).astype(np.int8)

        # Token→bit-vector cache shared across batches of this task:
        # natural-language corpora reuse a small vocabulary, so the md5
        # runs once per distinct token, not once per occurrence.
        cache: dict[str, np.ndarray] = {}
        for pdf in pdfs:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"_id": pd.Series([], dtype="int64"),
                                    "_sim": pd.Series([], dtype="int64")})
                continue
            tok_lists = [
                (str(t).lower().split() or [""]) if t is not None else [""]
                for t in pdf["_text"]
            ]
            lens = np.fromiter((len(ts) for ts in tok_lists), dtype=np.int64, count=n)
            flat = [t for ts in tok_lists for t in ts]
            # Per-occurrence Python work is the kernel's scale enemy
            # (sf10 profiled the fingerprint stage at 43 s of a 110 s
            # query with the original np.stack-per-token + np.add.at
            # form; the rewrite microbenched 43.9 → ~5 s on a 2.5M-
            # occurrence batch). factorize is one O(T) hash pass; the
            # bit matrix expands UNIQUE tokens only (int8),
            # occurrences are a single fancy-index; and the per-doc
            # bit votes are 64 C-speed bincount scatter-adds — NOT
            # np.add.at (unbuffered, ~10× slower) and NOT
            # np.add.reduceat with a dtype= upcast (its mixed-dtype
            # inner loop measured 10× slower than the matched-dtype
            # path). Bit sums are exact in bincount's float64
            # accumulator up to 2^53 tokens per doc.
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            ub = np.empty((len(uniques), 64), dtype=np.int8)
            for i, t in enumerate(uniques):
                v = cache.get(t)
                if v is None:
                    v = cache[t] = bitvec(t)
                ub[i] = v
            bitmat = ub[codes]
            doc_idx = np.repeat(np.arange(n), lens)
            counts = np.empty((n, 64), dtype=np.int64)
            for j in range(64):
                counts[:, j] = np.bincount(
                    doc_idx, weights=bitmat[:, j], minlength=n
                )
            # majority vote per bit: set iff more +1 than -1 votes
            fps = ((counts * 2 > lens[:, None]).astype(np.uint64) << shifts).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame(
                {"_id": pdf["_id"].astype("int64"), "_sim": fps.astype(np.int64)}
            )

    src = ensure_parallelism(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    )
    return src.mapInPandas(batches, schema="_id long, _sim long")


#: Corpus size above which auto mode switches from single-block
#: pigeonhole keys (eq_blocks=1) to 3-block combination keys. Below
#: it, random-collision candidate mass n²/2·(d+1)·2^-⌊64/(d+1)⌋ is
#: small enough that the 1→C(k,3)× posting multiplicity and the
#: forced sort-merge join cost more than they save (measured at
#: sf0.1/5k docs: combos 5.1 s steady vs single-block 1.6 s; at
#: sf1/50k they tie; at sf10/500k single-block is the 1.7B-candidate
#: blow-up combos exist to kill).
SIMHASH_COMBO_MIN_DOCS = 100_000


def simhash_block_layout(
    max_hamming: int, eq_blocks: int
) -> tuple[int, list[int], list[int]]:
    """``(k, widths, offsets)`` of the pigeonhole split of a 64-bit
    fingerprint into ``k = max_hamming + eq_blocks`` blocks (widths
    differ by at most one bit). Shared by the batch self-join and the
    streaming twin so both sides derive identical posting keys."""
    k = max_hamming + eq_blocks
    base, extra = divmod(64, k)
    widths = [base + (1 if c < extra else 0) for c in range(k)]
    offsets = [sum(widths[:c]) for c in range(k)]
    return k, widths, offsets


def simhash_posting_entries(
    sim: Column, widths: list[int], offsets: list[int], eq_blocks: int
) -> list[Column]:
    """One ``struct(m, f, k)`` per ``eq_blocks``-subset of blocks of
    ``sim``: ``k`` = the subset's block values concatenated into a
    single long posting key, ``m`` = the subset as a bitmask of block
    indices, ``f`` = mask of all indices ≤ the subset's msb (the
    canonical-combo filter's comparison window)."""
    from itertools import combinations

    def block(c: int) -> Column:
        return F.shiftrightunsigned(sim, offsets[c]).bitwiseAND(
            F.lit((1 << widths[c]) - 1)
        )

    entries = []
    for combo in combinations(range(len(widths)), eq_blocks):
        key = block(combo[0])
        for c in combo[1:]:
            key = F.shiftleft(key, widths[c]).bitwiseOR(block(c))
        cmask = sum(1 << c for c in combo)
        full = (1 << (max(combo) + 1)) - 1  # all block indices ≤ msb(combo)
        entries.append(
            F.struct(F.lit(cmask).alias("m"), F.lit(full).alias("f"), key.alias("k"))
        )
    return entries


def simhash_match_mask(
    xor: Column, widths: list[int], offsets: list[int]
) -> Column:
    """Bitmask of blocks on which two fingerprints agree, computed
    branch-free from their XOR — a flat ``k``-term sum that stays
    inside whole-stage codegen (see the canonical-combo commentary in
    :func:`simhash_near_dup_pairs` for the rejected alternatives)."""
    return functools.reduce(
        lambda x, y: x + y,
        [
            F.when(
                F.shiftrightunsigned(xor, offsets[c]).bitwiseAND(
                    F.lit((1 << widths[c]) - 1)
                )
                == 0,
                F.lit(1 << c),
            ).otherwise(F.lit(0))
            for c in range(len(widths))
        ],
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    eq_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ ``max_hamming`` on SimHash.

    COMBINATION pigeonhole blocking (Manku/Jain/Sarma, WWW'07 shape):
    the 64-bit fingerprint splits into ``k = max_hamming + eq_blocks``
    blocks, and candidates are pairs equal on ALL blocks of some
    ``eq_blocks``-subset — C(k, eq_blocks) posting keys per doc, each
    ``eq_blocks·64/k`` bits wide. Complete by construction: d
    differing bits touch at most d blocks, leaving ≥ ``eq_blocks``
    blocks untouched, so some subset matches exactly. Exact Hamming
    (bit_count of xor) then verifies candidates, so the OUTPUT is
    identical for any valid parameterization — the knob only moves
    the candidate mass.

    Why combinations and not the r5 single-chunk split: with d = 6,
    single chunks are 64/7 ≈ 9 bits, and RANDOM collisions run at
    n²/2 · 7 · 2⁻⁹ regardless of corpus content — ~1.7 BILLION
    candidate pairs at 500k docs (the r10 sf10 sweep ground for
    >20 min writing ~48 GB of verify shuffle; wrongly adjudicated as
    mirror-corpus shape at r9). With eq_blocks = 3 the key widens to
    ~21.3 bits: random collisions drop ~2^-12 per key while posting
    rows grow 7→84 per doc. Each +1 on ``eq_blocks`` costs ×k/(c+1)
    postings and pays ×2^{64/k} fewer random collisions — but on
    corpora with dense near-dup clusters the floor is the CLUSTER
    mass (every true pair collides on ~all combos until the canonical
    filter below kills the duplicates), which grows with C(k, c), so
    more combos eventually hurts: measured sf10 totals (500k docs,
    16.2M true pairs) eq=2 53 s, eq=3 51 s, eq=4 105 s warm; sf1 (50k
    docs) eq=2 5.7 s, eq=3 8.9 s vs 9.5 s for the old scheme. eq=3
    for the at-scale regime: near-best at both sf1 and sf10, and its
    21-bit keys keep the n²-growing random-collision term negligible
    an order of magnitude further out than eq=2's 16-bit keys.

    ``eq_blocks=None`` (default) picks the regime from a
    metadata-cheap ``df.count()``: 1 (single-block keys, the r5
    scheme, planner free to broadcast the 7×-exploded postings) below
    ``SIMHASH_COMBO_MIN_DOCS``, else 3 with a forced sort-merge join
    — the grouped-dispatch crossover pattern the kNN and contamination
    families already use. Both regimes share the canonical-combo
    filter, so neither pays the old ``distinct()`` shuffle.
    """
    from pyspark import StorageLevel

    if not (0 <= max_hamming <= 15):
        # beyond 15 the blocks get so narrow that even combination
        # keys stop pruning, and silently clamping would reintroduce
        # the exact silent-recall-loss bug the block formula exists to
        # prevent (r5: a hardcoded 4×16 split missed distances 4-6).
        raise ValueError(
            f"simhash_near_dup_pairs supports max_hamming in [0, 15] "
            f"(completeness needs max_hamming+eq_blocks disjoint blocks "
            f"of a 64-bit fingerprint); got {max_hamming}"
        )
    if eq_blocks is None:
        n_docs = df.count()  # parquet scans answer this from footer metadata
        eq_blocks = 1 if n_docs <= SIMHASH_COMBO_MIN_DOCS else 3
    if eq_blocks < 1:
        raise ValueError(f"eq_blocks must be >= 1; got {eq_blocks}")
    k = max_hamming + eq_blocks
    if k > 62:
        # 64 would exhaust the fingerprint bits anyway, and the combo
        # BITMASKS ride in signed-long columns: block index 63 would
        # need 1<<63, overflowing int64.
        raise ValueError(
            f"max_hamming + eq_blocks = {k} exceeds 62 (64 fingerprint "
            f"bits, combo bitmasks carried as signed longs)"
        )
    k, widths, offsets = simhash_block_layout(max_hamming, eq_blocks)

    # One posting key per eq_blocks-subset: concatenate the subset's
    # block values into a single long (≤ eq_blocks·ceil(64/k) bits).
    # Each posting carries its combo as a BITMASK of block indices (not
    # an ordinal) so the canonical-combo filter below can compare it
    # against a mask computed branch-free from the pair's fingerprints.
    combo_entries = simhash_posting_entries(F.col("_sim"), widths, offsets, eq_blocks)

    # Fingerprints feed both sides of the combo self-join — persist so
    # the mapInPandas pass runs once, not once per join side; tracked
    # for harness-side release (session.release_persists).
    from etl_project_spark.session import scoped_persist

    sh = scoped_persist(
        simhash_fingerprints(df, id_col, text_col), StorageLevel.MEMORY_AND_DISK
    )
    postings = sh.select(
        "_id",
        "_sim",
        F.explode(F.array(*combo_entries)).alias("_p"),
    ).select(
        "_id",
        "_sim",
        F.col("_p.m").alias("_cmask"),
        F.col("_p.f").alias("_below"),
        F.col("_p.k").alias("_key"),
    )
    # In the combination regime, force a sort-merge self-join: the
    # planner sizes the postings frame from the PRE-explode
    # fingerprint stats, so it happily broadcasts a side that is
    # really C(k, eq_blocks)× bigger — at sf10 that is a 42M-row
    # broadcast build whose probe ran 3.2× slower than SMJ (131.6 s
    # vs 41.6 s measured; shuffle_hash 97.3 s — the skewed posting
    # keys make its per-partition builds lopsided while AQE can split
    # SMJ sort spills). Single-block postings are only (d+1)× the
    # estimate and single-block mode only runs on small corpora, where
    # the planner's broadcast is the right call — leave it free.
    if eq_blocks > 1:
        postings = postings.hint("merge")
    a = postings.alias("a")
    b = postings.alias("b")

    # Canonical-combo dedup (replaces distinct()): a near-identical
    # pair matches on MOST of the C(k, eq_blocks) combos — on the sf10
    # corpus (500k docs, 16.2M true pairs in replica clusters) that
    # multiplicity made the joined stream ~3.0e9 rows, and a distinct()
    # over it is a ~70 GB shuffle that dominated the whole query
    # (252 s). After the equi-join BOTH fingerprints are in hand, so
    # the pair's full set of matching blocks is recomputable
    # row-locally: keep a joined row only when its combo is the
    # CANONICAL one — the eq_blocks lowest matching block indices
    # (= the lexicographically first matching combo). Every qualifying
    # pair survives exactly once, duplicates die inside the join
    # stage's codegen, and the only shuffle left is the posting
    # exchange itself.
    #
    # The test "is this combo the eq_blocks lowest matching indices"
    # compiles to ONE mask compare: with M = bitmask of matching
    # blocks, combo is canonical iff M ∩ {0..msb(combo)} == combo —
    # every matching index at or below the combo's top bit is in the
    # combo (both masks ride along in the posting struct as literals).
    # Keep this expression SMALL and single-evaluation: a first
    # attempt as coalesce(C(k,c) × when-branches) blew past
    # whole-stage codegen's method limit and ran interpreted; a second
    # that peeled M's low bits with x & -x re-inlined the k-term M
    # subtree ~3× per peel step and was as bad. Both were slower than
    # the distinct() they replaced.
    xor = F.col("a._sim").bitwiseXOR(F.col("b._sim"))
    match_mask = simhash_match_mask(xor, widths, offsets)
    return (
        a.join(
            b,
            (F.col("a._cmask") == F.col("b._cmask"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(match_mask.bitwiseAND(F.col("a._below")) == F.col("a._cmask"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# -- embedding near-dup ----------------------------------------------------

def _hyperplane_signs(n_planes: int, dim: int, seed: str = "hp") -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from sha256 — no RNG state.

    Config-sized (n_planes × dim ints) — shipped to executors as part
    of the plan literal, never a data-sized broadcast.
    """
    planes: list[list[int]] = []
    for p in range(n_planes):
        row: list[int] = []
        for d in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{d}".encode()).digest()
            row.append(1 if h[0] % 2 == 0 else -1)
        planes.append(row)
    return planes


def cosine_similarity(a: Column, b: Column) -> Column:
    """Exact cosine similarity of two array<numeric> columns (double)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm_b = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.when((norm_a > 0) & (norm_b > 0), dot / (norm_a * norm_b)).otherwise(
        F.lit(0.0)
    )


def hyperplane_tables_for_recall(
    threshold: float, planes_per_table: int, target_recall: float = 0.99
) -> int:
    """Number of OR-amplified LSH tables needed so a pair at exactly
    ``cosine = threshold`` is found with probability ≥ ``target_recall``.

    Per-plane sign agreement for angle θ is ``1 - θ/π`` (Charikar,
    STOC'02 — SimHash); a table of b planes matches w.p. ``p^b``; L
    independent tables (any-match) give ``1 - (1-p^b)^L``. Solve for L.
    """
    import math

    if not (0.0 < target_recall < 1.0):
        raise ValueError(
            f"target_recall must be in (0, 1) — exact recall needs an exact "
            f"algorithm, not LSH; got {target_recall!r}"
        )
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_table = p**planes_per_table
    if p_table >= 1.0:
        return 1
    if p_table <= 0.0:
        raise ValueError(
            f"threshold {threshold!r} gives zero per-table collision "
            "probability; no table count can reach the target recall"
        )
    return max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_table)))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    threshold: float = 0.95,
    planes_per_table: int = 6,
    n_tables: int | None = None,
    target_recall: float = 0.99,
    verify: str = "grouped",
) -> DataFrame:
    """Cosine near-dup pairs via multi-table hyperplane LSH + exact verify.

    OR-amplified like ``similarity.lsh_bucketed_topk``: each vector gets
    ``n_tables`` independent ``planes_per_table``-bit sign signatures
    (one Arrow-batched matmul); a pair is a candidate if ANY table
    matches. A single table under-recalls badly — at cosine 0.95 the
    full-signature agreement for 12 planes is only ``(1-θ/π)^12 ≈ 0.28``
    — so ``n_tables`` defaults to the analytic count that pushes recall
    at the threshold to ``target_recall`` (e.g. 8 tables for 0.95/6
    planes). Candidates dedup on (id_a, id_b) before the exact-cosine
    verify, so each surviving pair is scored once. The bucket join is a
    hash equi-join on (table, signature) — no cross join at any scale.
    """
    from etl_project_spark.operators.similarity import (
        group_pairs_scorer,
        hyperplane_table_sigs_udf,
        pairwise_cosine_udf,
    )

    if verify not in ("grouped", "join"):
        raise ValueError(
            f"embedding_near_dup_pairs verify must be 'grouped' or 'join'; got {verify!r}"
        )
    if n_tables is None:
        n_tables = hyperplane_tables_for_recall(
            threshold, planes_per_table, target_recall
        )
    planes = _hyperplane_signs(n_tables * planes_per_table, dim)
    sigs = hyperplane_table_sigs_udf(planes, n_tables)(F.col(vec_col))
    if verify == "grouped":
        # Bucket-GROUPED verify (round-8, the scale form): one row per
        # (vector, table) keyed by the table's signature shuffles ONCE
        # with its vector, and all-pairs exact cosine runs INSIDE each
        # (_t, _sig) bucket via the shared numpy kernel — candidate
        # pairs never exist as Spark rows. The join form below moves
        # every candidate pair with TWO embedding arrays through joins
        # + the Arrow scorer: at the round-8 sf10 sweep that was ~60 GB
        # of pair traffic (574.8 s at 4M vectors); grouped with
        # depth-128 buckets measured 117.5 s. A pair colliding in
        # several tables is scored in each — identical deterministic
        # score, deduped at the (tiny) survivor set. Same candidate
        # SET, same kernel arithmetic, so the exact-oracle contract is
        # untouched. Caveat that keeps 'join' alive: per-group
        # dispatch costs ~50 µs, so at small corpora where buckets are
        # shallow and plentiful (sf0.1: 28×4096 groups for 40k
        # vectors) the join form is ~3× faster — callers gate on a
        # corpus-size hint (see q_embedding_near_dup_pairs).
        buckets = df.select(
            F.col(id_col), F.col(vec_col), F.posexplode(sigs).alias("_t", "_sig")
        )
        fn, out_schema = group_pairs_scorer(df, id_col, vec_col, threshold)
        return (
            buckets.groupBy("_t", "_sig")
            .applyInPandas(fn, out_schema)
            .dropDuplicates(["id_a", "id_b"])
        )
    # 'join' verify: posting list carries ONLY ids — the equi-join key
    # (_t, _sig) is skew-free by hashing. NO persist: the self-join's
    # two sides are the identical subtree, so exchange reuse executes
    # the signature matmul + shuffle ONCE; the verify join-back
    # projects only (id, vec) and column pruning drops the UDF there.
    posts = df.select(
        F.col(id_col).alias("_id"), F.posexplode(sigs).alias("_t", "_sig")
    )
    a = posts.alias("a")
    b = posts.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._sig") == F.col("b._sig"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()  # a pair may collide in several tables — verify once
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    # asNondeterministic (guide §4.4): the threshold filter references
    # the UDF's output column, and Catalyst pushes it below the
    # projection by DUPLICATING the expression — the r17 before-plan
    # carried two back-to-back ArrowEvalPython nodes running the same
    # pairwise cosine, so every candidate pair paid the kernel twice.
    # The marking forbids the copy (one node, filter above it); the
    # kernel is genuinely deterministic, only the optimizer contract
    # changes.
    score = pairwise_cosine_udf().asNondeterministic()
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(score(F.col("_va"), F.col("_vb")), 4).alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 15,
) -> DataFrame:
    """Connected components over an undirected pair-edge list:
    ``(id, cluster)`` where cluster is the component's minimum id.

    Each round does TWO distributed steps (driver loop is control
    only):

    1. **min-propagation** — every node takes the min of its own label
       and its neighbors' labels (one edge⋈label join + agg);
    2. **pointer jumping** — every node replaces its label by its
       label's label (one label self-join), the path-halving step of
       union-find.

    Min-propagation alone converges in O(diameter) rounds — a
    1000-link chain needs 1000 rounds.  The jump step halves pointer
    chains every round, so the combination converges in O(log
    diameter) rounds regardless of chain depth (the same bound as the
    small-star/large-star formulation of Kiveris et al., via pointer
    doubling instead of edge rewriting).  Labels only ever decrease and
    always hold a node id inside the same component, so the fixed
    point is exactly "cluster = component min".  Non-convergence
    within ``max_iter`` raises instead of silently splitting a
    component; the default budget covers diameters ~2^14.

    Each round's label table is ``localCheckpoint``-ed (eager): the
    pointer-jump self-join references the round's plan TWICE, so
    without lineage truncation the logical plan doubles per round and
    the driver OOMs analyzing a 2^rounds tree long before the data is
    a problem.  Checkpointing makes every round's plan a constant-size
    join over the previous round's materialized blocks — the standard
    iterative-algorithm discipline on Spark.
    """
    from pyspark import StorageLevel

    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)

    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("l", F.col("id"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()

    changed = 0
    # Handle to the round's checkpointed DataFrame: localCheckpoint
    # blocks live on THAT DataFrame's RDD, so releasing them means
    # calling .unpersist() on this handle — unpersisting a derived
    # .select() is a no-op and would strand up to max_iter label-table
    # snapshots in storage memory per call (the round-2 leak pattern).
    prev_ckpt = None
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("l").alias("nl"))
        )
        prop = (
            labels.select(F.col("id"), F.col("l").alias("ol"))
            .join(neigh, F.col("id") == neigh.src, "left")
            .select(
                "id",
                F.least(F.col("ol"), F.coalesce(F.col("nl"), F.col("ol"))).alias("l"),
                "ol",
            )
        )
        # pointer jump: l(u) <- l(l(u)).  A label is always some node's
        # id, so the self-join matches unless l(u) = u's own row is the
        # root already (left join + coalesce keeps those).
        parent = prop.select(F.col("id").alias("pid"), F.col("l").alias("pl"))
        nxt = (
            prop.join(parent, prop.l == F.col("pid"), "left")
            .select(
                "id",
                F.least(F.col("l"), F.coalesce(F.col("pl"), F.col("l"))).alias("l"),
                "ol",
            )
        ).localCheckpoint(eager=True)
        changed = nxt.filter(F.col("l") != F.col("ol")).count()
        if prev_ckpt is None:
            labels.unpersist()  # the initial persisted label table
        else:
            prev_ckpt.unpersist()
        prev_ckpt = nxt
        labels = nxt.select("id", "l")
        if changed == 0:
            break
    if changed != 0:
        # Labels are still moving: a component with diameter > 2^max_iter
        # would be silently split into several clusters. Fail loudly —
        # the caller can raise max_iter (each extra round is two cheap
        # joins on an already-compressed label table).
        sym.unpersist()
        if prev_ckpt is not None:
            prev_ckpt.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    result = labels.select("id", F.col("l").alias("cluster")).localCheckpoint(
        eager=True
    )
    sym.unpersist()
    # max_iter >= 1 so at least one round ran and prev_ckpt owns the
    # final round's blocks; result is independently checkpointed above,
    # so the round's snapshot can be released now. The result's OWN
    # checkpoint blocks must outlive this function (the caller's action
    # reads them) — tracked for harness-side release instead.
    if prev_ckpt is not None:
        prev_ckpt.unpersist()
    from etl_project_spark.session import track_for_release

    return track_for_release(result)


# -- Containment + prefix-filtered set-similarity join ---------------------

def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directional n-gram containment pairs: C(A→B) = |A∩B| / |A|.

    The asymmetric twin of :func:`ngram_jaccard_pairs` (Lee et al.'s
    dedup paper uses both): containment catches a short document
    swallowed whole by a longer one — a quote, a mirrored excerpt, a
    page embedded in a crawl dump — where Jaccard stays low because
    the union is dominated by the long side. Output rows are
    DIRECTIONAL (``id_a`` is the contained side), so a (sub, super)
    duplicate yields one high-containment row even when the reverse
    direction is far below threshold.

    Same inverted-index scale shape as the Jaccard family: grams are
    xxhash64'd to 8-byte keys before the distinct and the self-join,
    shuffle is on the gram hash, and only pairs sharing ≥1 gram ever
    materialize. No cross join at any corpus size.
    """
    from pyspark import StorageLevel

    from etl_project_spark.session import scoped_persist

    inv = scoped_persist(
        ngram_rows(ensure_parallelism(df), id_col, text_col, n=n)
        .select("_id", F.xxhash64("_gram").alias("_g64"))
        .dropDuplicates(["_id", "_g64"]),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Directional join (!=) emits 2× the ordered-pair mass the guard
    # estimates — same order of magnitude, same refusal decade.
    _guard_candidate_mass(inv, capped_twin="ngram_jaccard_pairs_capped")
    sizes = inv.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a._g64") == F.col("b._g64")) & (F.col("a._id") != F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sz_a"))
    return (
        shared.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_inter") / F.col("_sz_a"), 4).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard-threshold pairs via PREFIX-FILTERED candidate
    generation (Chaudhuri et al. 2006 / PPJoin's prefix principle).

    Same answer as the plain inverted-index join, far fewer candidate
    rows: order each document's grams by ascending global document
    frequency (rarest first, ties by gram hash — one global total
    order), keep only the first ``sz - floor(t·sz) + 1`` grams, and
    self-join the PREFIXES. The prefix principle guarantees any pair
    with Jaccard ≥ t shares ≥1 prefix gram under a common order, so
    the candidate set is lossless; the exact verify join then computes
    true Jaccard over the FULL gram sets. ``floor`` (not the canonical
    ``ceil``) keeps the prefix one gram longer whenever t·sz is
    fractional — immune to float representation of t·sz, still exact.

    Scale: the candidate join moves only prefix rows — for t=0.5
    roughly half the gram rows, and crucially the HOT grams (stopword
    n-grams shared by everything) sort to the END of each document's
    order, so the quadratic bucket blowup the plain inverted index
    suffers on high-DF grams never enters candidate generation. The
    DF table is a gram-keyed aggregate (map-side combined), and every
    stage is an equi-join on 8-byte keys.
    """
    inv = (
        ngram_rows(ensure_parallelism(df), id_col, text_col, n=n)
        .select("_id", F.xxhash64("_gram").alias("_g64"))
        .dropDuplicates(["_id", "_g64"])
    )
    sizes = inv.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    dfreq = inv.groupBy("_g64").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy("_df", "_g64")
    prefix = (
        inv.join(dfreq, "_g64")
        .withColumn("_rk", F.row_number().over(w))
        .join(sizes, "_id")
        .filter(
            F.col("_rk")
            <= F.col("_sz") - F.floor(F.lit(float(threshold)) * F.col("_sz")) + 1
        )
        .select("_id", "_g64", "_rk", "_sz")
    )
    pa = prefix.alias("pa")
    pb = prefix.alias("pb")
    t = float(threshold)
    # Two further LOSSLESS prunes from the PPJoin family, both slack-
    # floored so float representation of t can only WEAKEN them (a
    # weaker bound admits extra candidates; it can never drop a true
    # pair — the oracle's naive join checks exactly this):
    # 1. length filter — Jaccard ≥ t forces min_sz ≥ t·max_sz (inter
    #    ≥ t·union ≥ t·max_sz and inter ≤ min_sz);
    # 2. positional filter — a prefix gram shared at ranks (rk_a,
    #    rk_b) caps the overlap at 1 + min(sz−rk) remaining grams,
    #    which must reach the equivalent-overlap bound
    #    α = t/(1+t)·(sz_a+sz_b).
    len_ok = F.least(F.col("pa._sz"), F.col("pb._sz")) >= F.floor(
        F.lit(t) * F.greatest(F.col("pa._sz"), F.col("pb._sz"))
    )
    alpha = F.floor(
        F.lit(t / (1.0 + t)) * (F.col("pa._sz") + F.col("pb._sz"))
    )
    pos_ok = (
        F.lit(1)
        + F.least(
            F.col("pa._sz") - F.col("pa._rk"), F.col("pb._sz") - F.col("pb._rk")
        )
    ) >= alpha
    candidates = (
        pa.join(
            pb,
            (F.col("pa._g64") == F.col("pb._g64"))
            & (F.col("pa._id") < F.col("pb._id"))
            & len_ok
            & pos_ok,
        )
        .select(F.col("pa._id").alias("id_a"), F.col("pb._id").alias("id_b"))
        .distinct()
    )
    ga = inv.select(F.col("_id").alias("id_a"), "_g64")
    gb = inv.select(F.col("_id").alias("id_b"), "_g64")
    inter = (
        candidates.join(ga, "id_a")
        .join(gb, ["id_b", "_g64"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter") / (F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")),
                4,
            ).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def span_gram_hashes_from_toks(toks: Column, k: int = 5) -> Column:
    """xxhash64'd word-``k``-gram array over an ALREADY-MATERIALIZED
    token-array column, in token order (NOT distinct — repeated-span
    detection needs positions): element ``i`` (0-based) is the gram
    starting at token ``i+1``. Docs with fewer than ``k`` tokens yield
    an empty array.

    ``toks`` must be a projected ATTRIBUTE, not an inline ``split(...)``
    expression: a subtree captured by the transform lambda is
    re-evaluated per element — O(tokens²·len) per doc, measured 6.8×
    slower at sf1 (31.9 s → 4.7 s for the gram+agg stage, round 13).
    Callers project the whitespace split in a prior ``select``.
    """
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def span_tokens_col(text: Column) -> Column:
    """THE tokenization feeding the repeated-span gram hash — trimmed,
    lower-cased, whitespace split. One definition shared by the batch
    plan and the streaming twin so the two can never shingle
    differently; project it to a column BEFORE calling
    :func:`span_gram_hashes_from_toks` (see there for why)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def span_gram_hashes(text: Column, k: int = 5) -> Column:
    """Convenience composition of :func:`span_tokens_col` and
    :func:`span_gram_hashes_from_toks` for tests / small inputs.
    HOT PATHS must use the two-step form instead — composing inline
    puts the split subtree inside the transform lambda, which Catalyst
    re-evaluates per gram (the O(tokens²) trap documented above)."""
    return span_gram_hashes_from_toks(span_tokens_col(text), k)
