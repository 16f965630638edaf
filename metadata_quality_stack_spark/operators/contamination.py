"""Train/eval decontamination: flag training documents that share word
n-grams with an evaluation set.

The standard pre-training hygiene step (publicly described in the GPT-3
appendix and the Dolma/RedPajama pipelines): any training document that
shares an n-gram with a benchmark document is flagged (and usually
dropped) so downstream eval numbers aren't inflated by memorized test
data. The reference stack has no analog — this sits on the
beyond-reference training-data axis (SURVEY.md §2.9/§6), reusing the
same 3-word shingle definition as the MinHash dedup family
(operators/dedup.py) so one shingle extraction serves both.

Scale shape (100 TB train side, benchmark-suite-sized eval side):

* The eval shingle set is DISTINCT'd then broadcast — benchmarks are
  MBs, not TBs, so the big side never shuffles: explode + broadcast
  hash join + partial-aggregated groupBy(doc_id) is map-heavy with one
  exchange on doc_id (bounded by #contaminated docs, not #shingles).
* Shingle explosion stays JVM-side (same native `transform`/`slice`
  expressions as dedup.py — no Python in the hot path).
* Here eval is carved out of the one `documents` table by a
  deterministic id rule (doc_id % eval_mod == 0) because the sandbox
  must synthesize its own eval split; in production the two sides are
  separate tables and each is scanned once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators.dedup import _shingles, shingles_sql

EVAL_MOD = 41  # doc_id % EVAL_MOD == 0 -> held-out "benchmark" doc


def decontaminate(docs: DataFrame) -> DataFrame:
    """Per-train-doc contamination report: distinct shingles shared with
    the eval split. Returns only contaminated docs (n_shared >= 1) —
    the actionable set; clean docs are the complement by doc_id.

    Columns: doc_id, n_shingles (distinct shingles in the doc),
    n_shared (of those, how many appear in ANY eval doc),
    contamination_ratio = n_shared / n_shingles.
    """
    arr = docs.select("doc_id", _shingles(F.col("text")).alias("arr"))
    ev = (
        arr.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("arr").alias("s"))
        .distinct()
    )
    tr = arr.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id",
        F.size("arr").cast("long").alias("n_shingles"),
        F.explode("arr").alias("s"),
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.count("*").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias(
                "contamination_ratio"
            ),
        )
    )


def decontaminate_sql() -> str:
    """DuckDB mirror of :func:`decontaminate` (same shingle definition)."""
    return f"""
WITH arr AS (SELECT doc_id, {shingles_sql()} AS arr FROM documents),
ev AS (SELECT DISTINCT unnest(arr) AS s FROM arr WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_shingles, unnest(arr) AS s
       FROM arr WHERE doc_id % {EVAL_MOD} <> 0)
SELECT tr.doc_id,
       any_value(n_shingles) AS n_shingles,
       count(*) AS n_shared,
       round(count(*) / any_value(n_shingles), 6) AS contamination_ratio
FROM tr JOIN ev USING (s)
GROUP BY tr.doc_id
"""


def decontaminate_bloom(docs: DataFrame) -> DataFrame:
    """Bloom-gated decontamination — the 10^12-doc shape of
    :func:`decontaminate`.

    The exact path broadcasts the eval shingle SET, which holds while
    benchmarks are MBs; a full eval SUITE carries ~10^8 distinct
    n-grams, which outgrows a broadcast set but not a Bloom BITMAP
    (m/8 bytes, ~10-14 bits/key for 0.1-1% FP). Build the bitmap over
    the eval split's distinct shingles (operators/bloom.py: the build
    aggregates <= m/64 word rows — bounded by the FILTER, not the
    suite), then score every train shingle MAP-ONLY against the
    broadcast bitmap: the train side never joins and its text never
    shuffles; the only exchange is the per-doc count on doc_id. False
    positives can only OVERCOUNT n_maybe (a negative is definitive),
    so the flag is a conservative pre-gate for the exact join —
    the same contract as the dedup bloom sidecar.

    Columns: doc_id, n_shingles, n_maybe (shingle occurrences whose
    k bloom positions are all set), maybe_ratio. Only docs with
    n_maybe >= 1 return — the set the exact path must re-check.
    """
    from metadata_quality_stack_spark.operators import bloom

    arr = docs.select("doc_id", _shingles(F.col("text")).alias("arr"))
    ev = (
        arr.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("arr").alias("s"))
        .distinct()
    )
    bitmap = bloom.bloom_build(ev, col="s")
    tr = arr.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id",
        F.size("arr").cast("long").alias("n_shingles"),
        F.explode("arr").alias("s"),
    )
    probed = bloom.bloom_probe(tr, bitmap, col="s")
    return (
        probed.groupBy("doc_id")
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.sum(F.col("maybe_dup").cast("long")).alias("n_maybe"),
        )
        .filter(F.col("n_maybe") >= 1)
        .select(
            "doc_id",
            "n_shingles",
            "n_maybe",
            F.round(F.col("n_maybe") / F.col("n_shingles"), 6).alias(
                "maybe_ratio"
            ),
        )
    )


def decontaminate_bloom_sql() -> str:
    """DuckDB mirror of :func:`decontaminate_bloom`: a probe hits iff
    ALL k of its bit positions appear in the eval split's distinct
    position set — the same boolean function the bitmap computes,
    false positives included (operators/bloom.py:bloom_probe_sql
    states the identical form for the dedup sidecar)."""
    from metadata_quality_stack_spark.operators.bloom import (
        K_HASHES,
        M_BITS,
        _position_sql,
    )

    pos_union = " UNION ".join(
        f"SELECT {_position_sql('s', i, M_BITS)} AS p FROM ev"
        for i in range(K_HASHES)
    )
    hit = " AND ".join(
        f"({_position_sql('s', i, M_BITS)} IN (SELECT p FROM cp))"
        for i in range(K_HASHES)
    )
    return f"""
WITH arr AS (SELECT doc_id, {shingles_sql()} AS arr FROM documents),
ev AS (SELECT DISTINCT unnest(arr) AS s FROM arr WHERE doc_id % {EVAL_MOD} = 0),
cp AS MATERIALIZED ({pos_union}),
tr AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_shingles, unnest(arr) AS s
       FROM arr WHERE doc_id % {EVAL_MOD} <> 0)
SELECT doc_id,
       any_value(n_shingles) AS n_shingles,
       count(*) FILTER (WHERE {hit}) AS n_maybe,
       round(count(*) FILTER (WHERE {hit}) / any_value(n_shingles), 6)
         AS maybe_ratio
FROM tr
GROUP BY doc_id
HAVING count(*) FILTER (WHERE {hit}) >= 1
"""
