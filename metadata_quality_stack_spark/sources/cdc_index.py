"""Persistent chunk-hash index: cross-crawl NOVELTY accounting at
sub-document granularity.

The exact fingerprint index (dedup_index.py) answers "is this DOCUMENT
new"; this answers "how many of this document's BYTES are new" — the
number a recrawl budget is planned on (a news site's pages are 95%
boilerplate chunks the index has seen for months; the novel-bytes ppm
is the real information yield of the crawl). Same lifecycle as every
index here: build / probe-and-ingest / compact, parquet bucket dirs
written through ``sources/store.py``, batch survivor hashes appended
after an eager pin.

Probe semantics (the contract the SQL oracle states): a chunk is KNOWN
iff its (md5, len) was in the index BEFORE this batch — batch docs are
measured independently (two batch docs sharing a novel chunk both
count it novel; their shared hash is appended once). Duplicate index
rows from a crashed append cannot change the readout: membership is a
LEFT JOIN flag, not a count.

Scale shape: chunking is map-only (operators/cdc.py); the probe joins
(md5, len) pairs against the bucketed index — the index is
chunk-census-sized (16 B/chunk: ~6% of corpus bytes at the default
64-char target), far too big to broadcast, exactly right for a
hash-bucketed shuffle join; per-doc readouts aggregate fixed-width
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import hex_int
from metadata_quality_stack_spark.operators import cdc
from metadata_quality_stack_spark.sources import store

CH_BUCKETS = 16
CYCLE_MOD = 3  # ingest batches: doc_id % 3 == 0, 1, 2


def _chunks(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, h, len) via the CDC boundary rule."""
    return cdc._chunks(docs, text_col).select(
        "doc_id",
        F.md5(F.col("chunk")).alias("h"),
        F.length("chunk").cast("long").alias("len"),
    )


def _with_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn("ch_bucket", (hex_int("h", 2) % CH_BUCKETS).cast("int"))


def build_chunk_index(docs: DataFrame, index_dir: str) -> None:
    """Initialize from an existing corpus: distinct (h, len), one file
    per bucket dir."""
    chunks = _with_bucket(_chunks(docs).select("h", "len").distinct())
    store.write_partitioned(chunks, index_dir, "ch_bucket", "overwrite")


def novel_bytes_batch(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> DataFrame:
    """One probe-and-ingest step: per-doc novelty readout vs the index
    as it stood BEFORE the batch, then append the batch's distinct
    unseen hashes. The readout is pinned (localCheckpoint) before the
    append so re-reading it cannot see the grown index.

    Columns: doc_id, total_bytes, novel_bytes, novel_ppm."""
    ch = _chunks(new_docs)
    idx = store.read_table(spark, index_dir)
    if idx is not None:
        known = idx.select("h", "len", F.lit(1).alias("_known")).distinct()
        flagged = ch.join(known, ["h", "len"], "left")
    else:  # first ingest: every chunk is novel
        flagged = ch.withColumn("_known", F.lit(None).cast("int"))
    novel = F.when(F.col("_known").isNull(), F.col("len")).otherwise(F.lit(0))
    per = flagged.groupBy("doc_id").agg(
        F.sum("len").cast("long").alias("total_bytes"),
        F.sum(novel).cast("long").alias("novel_bytes"),
    )
    readout = (
        new_docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("total_bytes", F.lit(0)).alias("total_bytes"),
            F.coalesce("novel_bytes", F.lit(0)).alias("novel_bytes"),
            F.expr(
                "coalesce(novel_bytes, 0) * 1000000"
                " div greatest(coalesce(total_bytes, 0), 1)"
            )
            .cast("long")
            .alias("novel_ppm"),
        )
        .localCheckpoint(eager=True)
    )
    survivors = flagged.filter(F.col("_known").isNull()).select(
        "h", "len"
    ).distinct()
    store.write_partitioned(
        _with_bucket(survivors), index_dir, "ch_bucket", "append"
    )
    return readout


def compact_chunk_index(spark: SparkSession, index_dir: str) -> None:
    """Per-bucket rewrite to distinct rows in one file (dynamic
    partition overwrite, ``sources/store.py``). An absent index has
    nothing to compact."""
    idx = store.read_table(spark, index_dir)
    if idx is None:
        return
    idx = idx.select("h", "len", "ch_bucket").distinct()
    with store.dynamic_overwrite(spark):
        store.write_partitioned(idx, index_dir, "ch_bucket", "overwrite")


def chunk_index_cycle(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Gate lifecycle: BUILD from slice A (doc_id % 3 == 0), INGEST
    batch B (== 1, readout discarded), COMPACT, then probe-and-ingest
    batch C (== 2) and return C's novelty readout — pure chunk-set
    algebra the SQL oracle restates (C's chunks vs chunks(A) ∪
    chunks(B)). Compaction between ingests must not change the answer."""
    with store.scratch_dir("cdc_index_gate_") as index_dir:
        build_chunk_index(docs.filter(F.col("doc_id") % CYCLE_MOD == 0), index_dir)
        novel_bytes_batch(
            spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 1), index_dir
        )
        compact_chunk_index(spark, index_dir)
        return novel_bytes_batch(
            spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 2), index_dir
        )


def chunk_index_cycle_sql() -> str:
    """Set-algebra restatement: batch C's per-doc bytes vs the union of
    A's and B's chunk sets (B's whole chunk set joins the index — every
    B chunk absent from A was appended, and B-vs-A novelty is exactly
    that set)."""
    a = cdc._ends_cte(f"(SELECT * FROM documents WHERE doc_id % {CYCLE_MOD} = 0)", "a_")
    b = cdc._ends_cte(f"(SELECT * FROM documents WHERE doc_id % {CYCLE_MOD} = 1)", "b_")
    c = cdc._ends_cte(f"(SELECT * FROM documents WHERE doc_id % {CYCLE_MOD} = 2)", "c_")
    return f"""WITH {a},
{cdc._chunks_cte("a_")},
{b},
{cdc._chunks_cte("b_")},
{c},
{cdc._chunks_cte("c_")},
idx AS MATERIALIZED (
  SELECT DISTINCT h, len FROM (
    SELECT h, len FROM a_chunks UNION ALL SELECT h, len FROM b_chunks)),
flagged AS (
  SELECT c.doc_id, c.len, (i.h IS NOT NULL)::INT AS known
  FROM c_chunks c LEFT JOIN idx i ON i.h = c.h AND i.len = c.len),
per AS (
  SELECT doc_id, sum(len)::BIGINT AS total_bytes,
         sum(CASE WHEN known = 0 THEN len ELSE 0 END)::BIGINT AS novel_bytes
  FROM flagged GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(p.total_bytes, 0) AS total_bytes,
  coalesce(p.novel_bytes, 0) AS novel_bytes,
  (coalesce(p.novel_bytes, 0) * 1000000
     // greatest(coalesce(p.total_bytes, 0), 1))::BIGINT AS novel_ppm
FROM (SELECT doc_id FROM documents WHERE doc_id % {CYCLE_MOD} = 2) d
LEFT JOIN per p USING (doc_id)
"""
