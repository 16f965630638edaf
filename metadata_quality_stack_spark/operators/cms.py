"""Count-min sketch + mergeable histogram quantiles — the frequency
and rank members of the mergeable-sketch trio (cardinality lives in
sketches.py/hll.py).

Count-min (Cormode, Muthukrishnan, "An improved data stream summary:
the count-min sketch and its applications", J. Algorithms 2005; public
method): d hash rows x w counters; insert adds 1 to one cell per row,
estimate(x) = min over rows — an OVERESTIMATE, never an undercount,
with error <= e/w * N at probability 1 - e^-d. The d row hashes come
from one md5 digest (independent prefixes, functions/hashing.py), so
cells are DRIVER-computable: a probe filters the sketch to d literal
cells per term, no tokenization job needed.

Histogram quantiles: B fixed integer bins over a declared [lo, hi)
domain; quantile(q) = the lower edge of the first bin whose cumulative
count reaches ceil(q*N/100). Bin width is the value error — the
classic monitoring tradeoff stated upfront, not hidden in a sketch
parameter.

Why these two matter at 100 TB: both BUILD in one map-side-combining
groupBy whose exchange is SKETCH-sized (d*w cells / B bins per
partition, regardless of input rows), both MERGE by cellwise integer
sum (order-free, re-shardable), and both are pure integers — Spark,
DuckDB, and Python agree bit-for-bit, so unlike approx_percentile /
count_min_sketch built-ins (engine-private layouts) they gate.

Reference parity note: the reference has no sketches; beyond-reference
training-data family (monitoring: sketches.py, hll.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import (
    md5_int,
    md5_int_py,
    md5_int_sql,
)
from metadata_quality_stack_spark.functions.text import token_array, token_array_sql

CMS_D = 4  # hash rows
CMS_W = 1024  # counters per row

HIST_BINS = 256
HIST_QS = (1, 25, 50, 75, 99)  # percentiles read off the histogram


# ------------------------------------------------------------------ CMS
# Row r's cell is 15 hex digits of md5 from digit 1 + 4r (independent-
# enough prefixes of one digest), mod w.
def _tokens() -> Column:
    return F.transform(
        token_array(F.coalesce(F.col("text"), F.lit(""))),
        lambda x: F.lower(x),
    )


def cms_build(docs: DataFrame) -> DataFrame:
    """The sketch table: (row, cell, cnt) — at most d*w rows; the
    exchange is sketch-sized thanks to map-side partial aggregation.
    Merge across shards = sum(cnt) per (row, cell)."""
    terms = docs.select(F.explode(_tokens()).alias("term"))
    cells = terms.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        (md5_int(F.col("term"), 15, 1 + 4 * r) % CMS_W).alias(
                            "cell"
                        ),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("e")
    ).select("e.row", "e.cell")
    return cells.groupBy("row", "cell").agg(F.count("*").alias("cnt"))


def cms_term_counts(docs: DataFrame, terms: list[str]) -> DataFrame:
    """Probe: estimated corpus frequency per query term — min over the
    d rows, 0 when every cell is empty. The probe filters the sketch to
    d literal cells per term (driver-computed), so it reads d*|terms|
    sketch rows, never the corpus. Columns: term, est_count."""
    lows = sorted({t.lower() for t in terms if t})
    sketch = cms_build(docs)
    spark = docs.sparkSession
    want = spark.createDataFrame(
        [
            (t, r, md5_int_py(t, 15, 1 + 4 * r) % CMS_W)
            for t in lows
            for r in range(CMS_D)
        ],
        "term string, row int, cell long",
    )
    est = (
        want.join(sketch, ["row", "cell"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
    return est.select("term", F.col("est_count").cast("long").alias("est_count"))


def cms_term_counts_sql(terms: list[str]) -> str:
    lows = sorted({t.lower() for t in terms if t})
    vals = ", ".join(
        f"('{t}', {r}, {md5_int_py(t, 15, 1 + 4 * r) % CMS_W})"
        for t in lows
        for r in range(CMS_D)
    )
    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS row, ({md5_int_sql('term', 15, 1 + 4 * r)} % {CMS_W}) "
        "AS cell, cnt FROM tf"
        for r in range(CMS_D)
    )
    return f"""
WITH tok AS (SELECT unnest({token_array_sql("lower(text)")}) AS term FROM documents),
tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
sketch AS (SELECT row, cell, sum(cnt)::BIGINT AS cnt FROM ({cell_rows})
           GROUP BY row, cell),
want AS (SELECT * FROM (VALUES {vals}) AS t(term, row, cell))
SELECT w.term, min(coalesce(s.cnt, 0))::BIGINT AS est_count
FROM want w LEFT JOIN sketch s ON s.row = w.row AND s.cell = w.cell
GROUP BY w.term
"""


# ------------------------------------------------- histogram quantiles
_HIST_SEQ = 0


def hist_sketch(
    df: DataFrame, col: str, lo: int, hi: int, bins: int = HIST_BINS
) -> DataFrame:
    """(bin, cnt): integer binning of ``col`` over [lo, hi) — values
    outside clamp to the edge bins. Merge = sum per bin.

    The observe barrier matters when ``col`` is COMPUTED (e.g. the
    21-rule total_score): without it, projection collapse + filter
    pushdown re-inline the whole scoring tree at every reference here
    — filter, bin, both clamp arms — and the multiplied expression
    stalls optimization/codegen (the rules.filter_scored pathology;
    reproduced on this operator before the barrier was added)."""
    global _HIST_SEQ
    _HIST_SEQ += 1
    x = F.col(col).cast("long")
    b = F.expr(f"(({col} - {lo}) * {bins}) div ({hi} - {lo})")
    clamped = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1))
    return (
        df.observe(f"hist_sketch_{_HIST_SEQ}", F.count(F.lit(1)).alias("n"))
        .filter(x.isNotNull())
        .select(clamped.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


def hist_quantiles(
    df: DataFrame,
    col: str,
    lo: int,
    hi: int,
    bins: int = HIST_BINS,
) -> DataFrame:
    """(q, bin, value_lower_edge): the first bin whose cumulative count
    reaches ceil(q*N/100), per requested percentile. Value error is one
    bin width; N, the cutoffs, and the cumulative sums are all integer."""
    from pyspark.sql import Window

    h = hist_sketch(df, col, lo, hi, bins)
    # unpartitioned window is SAFE here: its input is the sketch itself —
    # a fixed B-bin table, never the data — so the single-partition
    # WindowExec touches <= B rows regardless of corpus size
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = h.select(
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(total).alias("n"),
    )
    qs_df = df.sparkSession.createDataFrame([(q,) for q in HIST_QS], "q int")
    # one pass: every qualifying (q, bin) pair, min bin per q — the
    # histogram is <= bins rows, so the cross join is sketch-sized
    return (
        cum.crossJoin(F.broadcast(qs_df))
        .filter(F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").cast("long").alias("bin"))
        .select(
            "q",
            "bin",
            (F.lit(lo) + F.col("bin") * F.expr(f"({hi} - {lo}) div {bins}"))
            .cast("long")
            .alias("value_lower_edge"),
        )
    )


def hist_quantiles_sql(
    col_expr: str,
    lo: int,
    hi: int,
    from_clause: str = "documents",
) -> str:
    q_vals = ", ".join(f"({q})" for q in HIST_QS)
    return f"""
WITH h AS (
  SELECT least(greatest((({col_expr}) - {lo}) * {HIST_BINS} // ({hi} - {lo}), 0),
               {HIST_BINS - 1})::INT AS bin, count(*) AS cnt
  FROM {from_clause} WHERE ({col_expr}) IS NOT NULL GROUP BY 1),
c AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
             sum(cnt) OVER () AS n FROM h),
qs AS (SELECT * FROM (VALUES {q_vals}) AS t(q))
SELECT q, bin::BIGINT AS bin,
  ({lo} + bin * (({hi} - {lo}) // {HIST_BINS}))::BIGINT AS value_lower_edge
FROM (
  SELECT qs.q, c.bin,
    row_number() OVER (PARTITION BY qs.q ORDER BY c.bin) AS rn
  FROM qs JOIN c ON c.cum * 100 >= qs.q * c.n)
WHERE rn = 1
"""
