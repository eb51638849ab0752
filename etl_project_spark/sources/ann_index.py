"""Persisted PQ / IVF-PQ index for the embeddings table — the
amortization layer the one-shot queries lack (round-10 verdict,
"What's missing #2").

``q_pq_adc_topk`` / ``q_knn_ivfpq_topk`` re-run the full-corpus
Arrow encode scan per query. That is the right shape for a
self-contained, oracle-replayable registry entry, but a real 100 TB
serving workload pays the encode ONCE and answers every subsequent
query from the codes: 64 float dims (256 B) become 8 uint8 codes, so
the entire index fits in a fraction of the corpus footprint and the
per-query work is an ADC scan over 8-byte rows.

Mechanism is the served-index registry of
:mod:`etl_project_spark.sources.dedup_index`: ``persist_pq_index``
encodes the corpus once — IVF cell assignment + PQ codes in the same
scan — and registers the handle for the corpus dir; the PQ query
builders ask ``index_for(PQIndex, …)`` and, when the registered
parameters match, substitute a scan of the persisted codes for the
encode. Registration is an explicit session opt-in, so the
driver's correctness runs (no registration) always exercise the
self-contained path, and parity between the two paths is asserted by
``tests/test_ann_index.py``.

The index parquet is written ``partitionBy("_cell")``: IVF-PQ probes
read only their ``n_probe`` cells via planning-time partition pruning
(the same Hive-style layout as ``ivf_write_index``), and flat ADC
scans read all cells but only the 8-byte code column — column pruning
keeps the ``errs`` audit array out of serving scans.

Seeds (the coarse centroids, whose slices are the PQ codebooks) are
index-build metadata — ``n_cells × dim`` floats — and are kept in the
registry entry itself: consumers must NOT re-derive them with a corpus
scan (that would pay the scan the index exists to skip), and an index
served with the wrong codebook is silently garbage, so the codebook
travels with the codes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class PQIndex:
    """Handle for one persisted index: parquet path + build params.
    Codes built under a different codebook are not an answer, they are
    a wrong answer, so the registry lookup
    (:func:`~etl_project_spark.sources.dedup_index.index_for`) matches
    both ``PARAMS``. The codes live in a caller path or the context's
    own directory, never a module-owned one, so a rebuild or clear
    deletes nothing."""

    PARAMS = ("n_cells", "n_sub")
    owns_path = False
    __slots__ = ("path", "seeds", "n_cells", "n_sub")

    def __init__(
        self, path: str, seeds: list[list[float]], n_cells: int, n_sub: int
    ) -> None:
        self.path = path
        self.seeds = seeds
        self.n_cells = n_cells
        self.n_sub = n_sub


def persist_pq_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 16,
    n_sub: int = 8,
    path: str | None = None,
    register: bool = True,
) -> PQIndex:
    """Build and register the persisted index: ONE Arrow scan computes
    the IVF cell assignment and the PQ codes together, written as
    parquet partitioned by ``_cell``.

    This is the pay-once write (at 100 TB: the final stage of embedding
    ingest); every subsequent ADC / IVF-PQ query in the session skips
    the encode scan entirely. Returns the registered handle.
    """
    from etl_project_spark.catalog import read_table
    from etl_project_spark.operators import similarity as SIM
    from etl_project_spark.sources.dedup_index import (
        query_scoped_index_dir,
        register_index,
    )

    e = read_table(spark, sf_dir, "embeddings")
    seeds = SIM.deterministic_centroids(e, "embedding", "vec_id", n_cells=n_cells)
    cbs = SIM.pq_codebooks(seeds, n_sub)
    if path is None:
        # per-context unique dir: a shared path raced across sessions
        # (one overwrite deleting part-files under another's scan) —
        # same isolation rule as q_knn_ivf_indexed_topk's index dir.
        path = query_scoped_index_dir(spark, "pq", sf_dir)
    enc = SIM.ivf_assign(e, "embedding", seeds).select(
        "vec_id",
        "_cell",
        SIM.pq_encode_udf(cbs)(F.col("embedding")).alias("_pq"),
    )
    enc.write.partitionBy("_cell").mode("overwrite").parquet(path)
    idx = PQIndex(path, seeds, n_cells, n_sub)
    if register:
        # session opt-in: route every PQ builder for this sf_dir to the
        # codes. register=False builds a handle without the global side
        # effect — what a registry query embedding its own index build
        # must use, so running it never flips OTHER queries' paths.
        register_index(sf_dir, idx)
    return idx


def read_pq_codes(spark: SparkSession, idx: PQIndex) -> DataFrame:
    """All codes ``(vec_id, _cell, _pq)`` — flat-ADC serving scan.

    ``_cell`` comes back from the partition directory values; column
    pruning drops ``_pq.errs`` when the consumer only scores."""
    return spark.read.parquet(idx.path)


def read_pq_codes_probed(
    spark: SparkSession, idx: PQIndex, cells: list[int]
) -> DataFrame:
    """Codes of the probed cells only — the filter lands on the
    ``_cell=N/`` partition directories, so unprobed cells are never
    opened (planning-time partition pruning)."""
    return spark.read.parquet(idx.path).filter(
        F.col("_cell").isin([int(c) for c in cells])
    )
