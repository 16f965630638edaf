"""Cross-engine-exact HyperLogLog (Flajolet, Fusy, Gandouet, Meunier,
"HyperLogLog: the analysis of a near-optimal cardinality estimation
algorithm", AofA 2007; public method).

The KMV sketch (sketches.py) answers the same question in K rows; HLL
answers it in m REGISTERS — 64 single-byte maxima — which is why real
monitoring fleets standardize on it: the sketch is constant-size, and
the merge is an elementwise MAX, the cheapest commutative/idempotent
reduction there is (re-merging a shard twice cannot change the
answer). Spark's own approx_count_distinct is HLL++ but its estimate
is implementation-private, so the gate could never verify it; this
variant is built from the shared md5-derived 60-bit hash and pure
integer arithmetic, so Spark, DuckDB, and Python agree bit-for-bit.

Layout (m = 64, p = 6):

    h       = 60-bit md5 hash (``md5_int(x, 15)``, functions/hashing.py
              — the hash every operator shares)
    bucket  = h % 64
    w       = h div 64                     (54 payload bits)
    rank    = 55 - bitlen(w), with w = 0 -> 55
              (bitlen via binary-string length: conv(w,10,2) / bin(w),
              probe-verified identical engines' semantics, bin(0)='0')
    M_j     = max rank per bucket          (the register)

Estimator, fixed-point: est_micros = (AM2 * 2^20) div denom with
AM2 = round(alpha_64 * m^2 * 1e6) = 2_904_064_000 (alpha_64 = 0.709,
the HLL paper's constant for m = 64) and

    denom = sum over all 64 buckets of 2^(20 - M_j), M_j > 20 -> 0
            (absent bucket: M_j = 0 -> 2^20)

a Q20 integer harmonic sum — exact, order-free, <= 2^26, so the final
division stays far inside int64. Registers past rank 20 truncate to a
zero term: deterministic in both engines, negligible until per-register
cardinality approaches 2^20 (~7e7 distinct per bucket); production
raises the fixed point, the gate keeps it verifiable. No small-range
linear-counting correction (needs ln — not cross-engine exact); the
raw estimator's small-n bias is documented behavior here, and the
KMV sketch is the recommended reader below ~10k distinct.

Scale shape: one map-only hash projection, one groupBy(bucket) whose
partial aggregation reduces every partition to <= 64 single-byte rows
— the exchange is register-sized regardless of input. Shard sketches
persist as 64-row tables and merge by max without re-reading shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_sql

HLL_M = 64  # registers (p = 6)
HLL_Q = 20  # fixed-point scale of the harmonic sum
HLL_AM2 = 2_904_064_000  # round(0.709 * 64^2 * 1e6)
_MAX_RANK = 55  # 54 payload bits + 1
SHARD_MOD = 3  # shard-merge gate split: shard i holds doc_id % SHARD_MOD == i


def hll_registers(docs: DataFrame) -> DataFrame:
    """The persisted shard sketch: (bucket, register) — at most 64
    rows, merge = max per bucket. Null values are skipped (no hash)."""
    h = md5_int(F.col("text"), 15)
    w = F.expr("_h div 64")
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rank = F.when(w == 0, F.lit(_MAX_RANK)).otherwise(
        F.lit(_MAX_RANK) - bitlen
    )
    return (
        docs.filter(F.col("text").isNotNull())
        .select(h.alias("_h"))
        .select(
            (F.col("_h") % HLL_M).cast("int").alias("bucket"),
            rank.cast("int").alias("rank"),
        )
        .groupBy("bucket")
        .agg(F.max("rank").alias("register"))
    )


def _estimate(registers: DataFrame) -> DataFrame:
    """(nonzero_registers, denom_q20, estimate_micros) from a register
    table; absent buckets contribute the full 2^Q term."""
    agg = registers.agg(
        F.count("*").cast("long").alias("nonzero_registers"),
        F.sum(
            F.when(
                F.col("register") <= HLL_Q,
                # shiftleft() wants a literal bit count — spell the
                # variable shift as an expression
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_Q} - register)"),
            ).otherwise(F.lit(0))
        ).alias("_present"),
    )
    denom = (
        F.coalesce(F.col("_present"), F.lit(0))
        + (F.lit(HLL_M) - F.col("nonzero_registers")) * F.lit(1 << HLL_Q)
    )
    return agg.select(
        "nonzero_registers",
        denom.cast("long").alias("denom_q20"),
        F.expr(
            f"CAST(({HLL_AM2} * CAST({1 << HLL_Q} AS BIGINT)) AS BIGINT)"
        ).alias("_num"),
    ).select(
        "nonzero_registers",
        "denom_q20",
        F.expr("_num div denom_q20").cast("long").alias("estimate_micros"),
    )


def hll_distinct_estimate(docs: DataFrame) -> DataFrame:
    """One-row corpus readout: (nonzero_registers, denom_q20,
    estimate_micros) — estimate of |distinct text| in micro-units."""
    return _estimate(hll_registers(docs))


def hll_shard_merge(shards: list[DataFrame]) -> DataFrame:
    """Union per-shard register tables, max per bucket, re-estimate —
    never re-reads shard data. Same columns as the direct estimate."""
    u = shards[0]
    for s in shards[1:]:
        u = u.unionByName(s)
    return _estimate(
        u.groupBy("bucket").agg(F.max("register").alias("register"))
    )


# ----------------------------------------------------------------------
# DuckDB oracle mirrors
# ----------------------------------------------------------------------
def _registers_sql() -> str:
    h = md5_int_sql("text", 15)
    return f"""regs AS (
  SELECT bucket, max(rank) AS register FROM (
    SELECT (h % {HLL_M})::INT AS bucket,
      CASE WHEN h // {HLL_M} = 0 THEN {_MAX_RANK}
           ELSE {_MAX_RANK} - length(bin(h // {HLL_M})) END AS rank
    FROM (SELECT {h} AS h FROM documents WHERE text IS NOT NULL))
  GROUP BY bucket)"""


def hll_distinct_estimate_sql() -> str:
    return f"""WITH {_registers_sql()},
agg AS (
  SELECT count(*)::BIGINT AS nonzero_registers,
    (coalesce(sum(CASE WHEN register <= {HLL_Q}
        THEN (1::BIGINT << ({HLL_Q} - register)) ELSE 0 END), 0)
     + ({HLL_M} - count(*)) * {1 << HLL_Q})::BIGINT AS denom_q20
  FROM regs)
SELECT nonzero_registers, denom_q20,
  (({HLL_AM2}::BIGINT * {1 << HLL_Q}) // denom_q20)::BIGINT
    AS estimate_micros
FROM agg
"""


def hll_shard_merge_sql() -> str:
    """Shard by doc_id % SHARD_MOD, sketch each shard, merge by max — the
    logical answer equals the whole-table sketch, which is what the
    merged registers reduce to (max of maxes = max)."""
    shard_regs = ",\n".join(
        f"""r{i} AS (
  SELECT bucket, max(rank) AS register FROM (
    SELECT (h % {HLL_M})::INT AS bucket,
      CASE WHEN h // {HLL_M} = 0 THEN {_MAX_RANK}
           ELSE {_MAX_RANK} - length(bin(h // {HLL_M})) END AS rank
    FROM (SELECT {md5_int_sql("text", 15)} AS h FROM documents
          WHERE text IS NOT NULL AND doc_id % {SHARD_MOD} = {i}))
  GROUP BY bucket)"""
        for i in range(SHARD_MOD)
    )
    union = " UNION ALL ".join(f"SELECT * FROM r{i}" for i in range(SHARD_MOD))
    return f"""WITH {shard_regs},
regs AS (SELECT bucket, max(register) AS register
         FROM ({union}) GROUP BY bucket),
agg AS (
  SELECT count(*)::BIGINT AS nonzero_registers,
    (coalesce(sum(CASE WHEN register <= {HLL_Q}
        THEN (1::BIGINT << ({HLL_Q} - register)) ELSE 0 END), 0)
     + ({HLL_M} - count(*)) * {1 << HLL_Q})::BIGINT AS denom_q20
  FROM regs)
SELECT nonzero_registers, denom_q20,
  (({HLL_AM2}::BIGINT * {1 << HLL_Q}) // denom_q20)::BIGINT
    AS estimate_micros
FROM agg
"""
