"""Cross-engine-exact cardinality sketch: K-minimum-values (KMV).

At 100 TB, "how many distinct documents/urls/shingles are there" is a
sketch question — an exact COUNT(DISTINCT) shuffles every key. Spark's
built-in answer is approx_count_distinct (HyperLogLog++), but its
estimate is implementation-specific, so the DuckDB gate could never
verify it. KMV (Bar-Yossef et al. 2002, "Counting distinct elements in
a data stream" — public) is the sketch that CAN be gate-verified:

    h(x)   = first 15 hex digits of md5(x) as a 60-bit integer
             (``md5_int(x, 15)``, functions/hashing.py — the hash every
             operator here shares, so all engines compute identical
             hashes)
    sketch = the K smallest DISTINCT hash values
    est    = (K - 1) / u_K   where u_K = (kth_min + 0.5) / 2^60

Everything is deterministic: same input -> same K hashes -> same
estimate, bit-for-bit, in Spark, DuckDB, and Python. Standard error is
~1/sqrt(K-2) (~9% at K=128).

Scale shape: the DISTINCT collapses duplicate hashes (an 8-byte-per-doc
exchange — hashes move, text never does), then orderBy().limit(K)
compiles to TakeOrdered: per-partition top-K + a K-row merge on the
driver. The union/merge property (sketch of A ∪ B = K smallest of the
two sketches' union) is what makes this the incremental-corpus
cardinality monitor: per-shard sketches are K rows each and merge
without re-reading shards (tested in tests/test_sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_sql

KMV_K = 128
_H_SPACE = 2.0**60  # 15 hex digits


def kmv_sketch(docs: DataFrame) -> DataFrame:
    """The K-row sketch itself (distinct minimum hashes, ascending) —
    what a per-shard job persists for later merging.

    Columns: h."""
    return (
        docs.select(md5_int(F.col("text"), 15).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
    )


def kmv_distinct_estimate(docs: DataFrame) -> DataFrame:
    """One-row distinct-cardinality estimate. If fewer than K distinct
    values exist the sketch IS the exact answer.

    Columns: k_seen, kth_hash, est_distinct."""
    agg = kmv_sketch(docs).agg(
        F.count("*").alias("k_seen"), F.max("h").alias("kth_hash")
    )
    u_k = (F.col("kth_hash").cast("double") + F.lit(0.5)) / F.lit(_H_SPACE)
    est = F.when(
        F.col("k_seen") < KMV_K, F.col("k_seen").cast("double")
    ).otherwise(F.round(F.lit(float(KMV_K - 1)) / u_k, 4))
    return agg.select(
        F.col("k_seen").cast("long").alias("k_seen"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        est.alias("est_distinct"),
    )


def kmv_distinct_estimate_sql() -> str:
    return f"""
WITH hs AS (SELECT DISTINCT {md5_int_sql("text", 15)} AS h FROM documents),
top AS (SELECT h FROM hs ORDER BY h LIMIT {KMV_K}),
agg AS (SELECT count(*) AS k_seen, max(h) AS kth_hash FROM top)
SELECT k_seen::BIGINT AS k_seen, kth_hash::BIGINT AS kth_hash,
       CASE WHEN k_seen < {KMV_K} THEN k_seen::DOUBLE
            ELSE round({float(KMV_K - 1)!r} /
                       ((kth_hash::DOUBLE + 0.5) / {_H_SPACE!r}), 4)
       END AS est_distinct
FROM agg
"""


def kmv_merge(sketches: list[DataFrame]) -> DataFrame:
    """Union-merge of per-shard sketches: K smallest distinct hashes of
    the concatenation — the sketch of the UNION of the shards, without
    touching shard data again. Input frames must carry column ``h``."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.select("h").distinct().orderBy("h").limit(KMV_K)
