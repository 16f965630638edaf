"""Persistent LSH band index: the state behind incremental NEAR-dup
ingest — the fuzzy twin of sources/dedup_index.py.

`operators/dedup.py:fuzzy_dedup_new_batch` answers "which new docs are
near-duplicates of the corpus" when the corpus is available as a
DataFrame. In production the corpus is never re-banded per crawl delta:
the pipeline maintains a standing index of DISTINCT (band, bucket) LSH
cells and each batch runs: band the delta -> probe the index -> keep
novel docs -> append the survivors' cells. This module is that loop.

Layout: one parquet table of (band:int, bucket:long) rows, partition-
dirred by band (``band=<0..N_BANDS-1>/``, written through
``sources/store.py``). The cells are ~12 bytes and
there are at most N_BANDS per document, so at 10^12 docs the index is
~50 TB-scale-free metadata next to the corpus — right-sized for a
shuffle join keyed (band, bucket), or shuffle-free when stored bucketed
on those keys (sources/bucketed.py pattern).

Correctness properties (tests/test_fuzzy_index.py):

* the probe aggregates ``countDistinct(band)`` per doc, so duplicate
  index rows (possible after a mid-append crash) can never inflate the
  hit count or change membership — re-ingesting a batch is idempotent.
* within-batch novelty uses min-doc_id-per-cell precedence: a doc is a
  batch near-dup iff it shares a cell with a LOWER-id batch doc — the
  same first-occurrence contract as the exact index's ingest.
* docs with no shingles (< 3 tokens) produce no cells and always keep
  here; they belong to the exact path (same contract as minhash_bands).
* survivors are pinned with an eager localCheckpoint BEFORE the append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators.dedup import minhash_bands
from metadata_quality_stack_spark.sources import store

CYCLE_MOD = 3  # ingest batches: doc_id % 3 == 0, 1, 2


def build_fuzzy_index(docs: DataFrame, index_dir: str) -> None:
    """Initialize the index from an existing corpus: distinct cells,
    one shuffle, one file per band dir."""
    cells = minhash_bands(docs).select("band", "bucket").distinct()
    store.write_partitioned(cells, index_dir, "band", "overwrite")


def fuzzy_ingest_batch(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> DataFrame:
    """One ingest step: flag each batch doc against the index
    (countDistinct hit bands) AND against earlier batch docs
    (min-id-per-cell precedence); keep = novel on both axes; append
    exactly the kept docs' distinct cells.

    Columns: doc_id, n_hit_bands, batch_near_dup, near_dup_of_corpus,
    keep."""
    bb = minhash_bands(new_docs)
    idx = store.read_table(spark, index_dir)  # None: first ingest
    if idx is not None:
        idx = idx.select("band", "bucket")
        corpus_hits = (
            bb.join(idx, ["band", "bucket"])
            .groupBy("doc_id")
            .agg(F.countDistinct("band").alias("n_hit_bands"))
        )
    else:
        corpus_hits = spark.createDataFrame(
            [], "doc_id long, n_hit_bands long"
        )
    first = bb.groupBy("band", "bucket").agg(F.min("doc_id").alias("first_id"))
    batch_hits = (
        bb.join(first, ["band", "bucket"])
        .filter(F.col("first_id") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("batch_near_dup", F.lit(True))
    )
    out = (
        new_docs.select("doc_id")
        .join(corpus_hits, "doc_id", "left")
        .join(batch_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_bands", F.lit(0)).cast("long").alias(
                "n_hit_bands"
            ),
            F.coalesce("batch_near_dup", F.lit(False)).alias("batch_near_dup"),
            (F.coalesce("n_hit_bands", F.lit(0)) > 0).alias(
                "near_dup_of_corpus"
            ),
            (
                (F.coalesce("n_hit_bands", F.lit(0)) == 0)
                & F.coalesce(~F.col("batch_near_dup"), F.lit(True))
            ).alias("keep"),
        )
        .localCheckpoint(eager=True)  # pin BEFORE the index grows
    )
    kept_cells = (
        bb.join(out.filter("keep").select("doc_id"), "doc_id")
        .select("band", "bucket")
        .distinct()
    )
    if idx is not None:
        # appends stay minimal (dups would be harmless — countDistinct —
        # but they grow the table for nothing)
        kept_cells = kept_cells.join(idx, ["band", "bucket"], "left_anti")
    store.write_partitioned(kept_cells, index_dir, "band", "append")
    return out


def compact_fuzzy_index(spark: SparkSession, index_dir: str) -> None:
    """Rewrite each band dir with distinct cells (dynamic partition
    overwrite, ``sources/store.py``). Must never change probe answers;
    only reclaims crash-duplicate rows. An absent index has nothing to
    compact."""
    idx = store.read_table(spark, index_dir)
    if idx is None:
        return
    idx = idx.select("band", "bucket").distinct()
    with store.dynamic_overwrite(spark):
        store.write_partitioned(idx, index_dir, "band", "overwrite")


def fuzzy_index_probe_cycle(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """One full fuzzy-index lifecycle, gate-checkable against pure SQL:
    BUILD from corpus slice A (doc_id % CYCLE_MOD == 0), INGEST batch B
    (== 1), COMPACT, then INGEST batch C (== 2) and return C's flags.
    The logical answer is band set algebra over the same table (C
    probed against A's cells plus B's ADMITTED cells, with min-id
    precedence inside each batch) — compaction sits between the ingests
    precisely because it must not change the answer.

    Columns: doc_id, n_hit_bands, batch_near_dup, near_dup_of_corpus,
    keep."""
    with store.scratch_dir("fuzzy_index_gate_") as index_dir:
        build_fuzzy_index(docs.filter(F.col("doc_id") % CYCLE_MOD == 0), index_dir)
        fuzzy_ingest_batch(
            spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 1), index_dir
        )
        compact_fuzzy_index(spark, index_dir)
        return fuzzy_ingest_batch(
            spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 2), index_dir
        )
