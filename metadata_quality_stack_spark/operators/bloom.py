"""Deterministic Bloom-filter membership pre-filter (broadcast bitmap).

The cheapest "have we seen this key before?" primitive a crawl/ingest
pipeline has: build one fixed-size bitmap over the corpus keys, then
probe every new-batch key MAP-ONLY against the broadcast bitmap — no
join, no shuffle of the batch, no re-read of the corpus. A positive is
"maybe seen" (false-positive rate ~(1-e^{-kn/m})^k); a negative is
definitive, so the probe safely gates the expensive exact path: only
maybe-dups proceed to the anti-join against the persistent fingerprint
index (sources/dedup_index.py), which at a typical <5% hit rate shrinks
that join's probe side ~20x. (Reference analog: the in-memory id cache
its batch evaluator consults before re-validating a record,
src/api/validators.py; Bloom 1970 is the public construction.)

Cross-engine exactness (what makes this GATE-verifiable, unlike
Spark's built-in df.stat.bloomFilter whose murmur layout is
implementation-private): positions come from the 60-bit md5 hash of
``functions/hashing.py`` — position_i(key) = md5_int(key || '#b{i}',
15) % m — and a probe hits iff ALL k positions are set, which is
exactly "all k positions appear in the corpus' distinct position set".
The DuckDB mirror states
that set-membership form; the Spark side executes the real
bitmap-and-bitwise-AND form; both are the same boolean function.

Scale shape: the build is one partial-agged groupBy over ≤ m/64 word
keys — bounded by the FILTER size, not the data (the same
bounded-state-to-driver pattern as the IVF centroids and the DSIR
census); the probe is pure codegen projection against an array<long>
literal. Size m for the key count (~10-14 bits/key gives 0.1-1% FP); a
bitmap beyond broadcast size means the key space outgrew a Bloom
filter — use the partitioned exact index instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_sql

M_BITS = 1 << 16  # default filter size: 65,536 bits = 1,024 longs
K_HASHES = 4


def _position(col: Column, i: int, m_bits: int) -> Column:
    return md5_int(F.concat(col, F.lit(f"#b{i}")), 15) % m_bits


def _position_sql(expr: str, i: int, m_bits: int) -> str:
    salted = f"({expr} || '#b{i}')"
    return f"({md5_int_sql(salted, 15)} % {m_bits})"


def bloom_build(
    corpus: DataFrame,
    col: str = "text",
    m_bits: int = M_BITS,
) -> list[int]:
    """Build the bitmap: ≤ m/64 (word_idx, bits) rows aggregate
    distributed (keys move as 8-byte positions, the documents never
    shuffle), then the word list — the filter itself, m/8 bytes — comes
    to the driver for broadcast. Returns m_bits//64 longs."""
    key = F.col(col)
    pos = corpus.select(
        F.explode(
            F.array(*[_position(key, i, m_bits) for i in range(K_HASHES)])
        ).alias("pos")
    )
    words = (
        pos.groupBy(F.floor(F.col("pos") / 64).alias("word_idx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
            ).alias("bits")
        )
        .collect()
    )
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[int(r.word_idx)] = int(r.bits)
    return bitmap


def _bitmap_literal(bitmap: list[int]) -> Column:
    """One array<bigint> literal in ONE gateway call. ``F.lit(list)``
    expands to per-element ``lit`` calls — 16k py4j round-trips (~10 s
    of pure driver overhead for a 1 Mbit filter) plus a 16k-child
    CreateArray the analyzer walks per reference. A single ``F.expr``
    ships the whole array as text; ConstantFolding collapses it to one
    Literal before execution, so the per-row probe cost is identical."""
    return F.expr("array(" + ",".join(f"{w}L" for w in bitmap) + ")")


def bloom_probe(
    batch: DataFrame,
    bitmap: list[int],
    col: str = "text",
) -> DataFrame:
    """Map-only probe: batch columns + maybe_dup. The bitmap rides the
    plan as an array<long> literal (broadcast-to-every-task semantics
    with no join); positions are STAGED columns so each md5 is computed
    once per (row, hash)."""
    m_bits = len(bitmap) * 64
    arr = _bitmap_literal(bitmap)
    key = F.col(col)
    staged = batch.select(
        "*",
        *[
            _position(key, i, m_bits).alias(f"_bp{i}")
            for i in range(K_HASHES)
        ],
    )
    hit = F.lit(True)
    for i in range(K_HASHES):
        p = F.col(f"_bp{i}")
        word = F.element_at(arr, F.floor(p / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(_bp{i} % 64 AS INT))"
        )
        hit = hit & (word.bitwiseAND(mask) != 0)
    return staged.withColumn("maybe_dup", hit).drop(
        *[f"_bp{i}" for i in range(K_HASHES)]
    )


def bloom_probe_sql(
    corpus_sql: str,
    batch_sql: str,
    col: str = "text",
    m_bits: int = M_BITS,
) -> str:
    """DuckDB mirror: membership in the distinct corpus position set —
    the same boolean function the bitmap computes (false positives
    included: a batch key whose k positions were all set by OTHER
    corpus keys is maybe_dup=true in both engines)."""
    pos_union = " UNION ".join(
        f"SELECT {_position_sql(col, i, m_bits)} AS p FROM corpus"
        for i in range(K_HASHES)
    )
    probes = " AND ".join(
        f"({_position_sql(col, i, m_bits)} IN (SELECT p FROM cp))"
        for i in range(K_HASHES)
    )
    return f"""
WITH corpus AS ({corpus_sql}),
cp AS ({pos_union}),
batch AS ({batch_sql})
SELECT doc_id, ({probes}) AS maybe_dup FROM batch
"""
