"""DSIR-style data selection: hashed n-gram importance resampling.

Re-expresses "Data Selection for Language Models via Importance
Resampling" (Xie et al., arXiv:2302.03169 — public) as Spark dataflow:
score every raw document by how much more likely its hashed bag-of-
n-grams is under a TARGET domain's unigram-bucket distribution than
under the RAW corpus distribution, then select via Gumbel-top-k (which
is exactly sampling-without-replacement proportional to the softmax of
the log weights). The reference repo has no counterpart; this is part
of the beyond-reference training-data-pipeline family, alongside
[[contamination.decontaminate]] and sampling.rebalance_corpus.

Scale shape (the 100 TB story):

* The bucket census is ONE explode + groupBy on a ``n_buckets``-sized
  key space — map-side partial aggregation means the exchange moves
  O(n_buckets × partitions) rows, not O(total tokens). The census
  result (``n_buckets`` rows) is collected to the driver exactly like
  the IVF centroids: it IS the model, and it is broadcast back into
  the per-document stage as a literal array.
* The per-document scoring stage is then MAP-ONLY — a fold over the
  document's bucket ids indexing a literal array; no joins, no
  shuffles (plan-asserted in tests/test_dsir.py).
* Selection is orderBy(key).limit(k) = TakeOrdered: per-partition
  top-k then a k-row merge on the driver, never a full sort.

Cross-engine exactness: all per-document arithmetic is BIGINT
micro-units. The only floating-point steps (ln of smoothed count
ratios; ln of the md5-derived Gumbel uniform) happen once per bucket /
per doc and are immediately rounded half-away-from-zero to integer
micros, so the per-document sums the gate hashes are exact integer
arithmetic in both engines, immune to addition order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_sql
from metadata_quality_stack_spark.functions.text import token_array, token_array_sql

N_BUCKETS = 256
DSIR_K = 100  # documents drawn
# The designated high-quality target domain (DSIR's Wikipedia+books
# stand-in for the synthetic corpus): importance weights push the raw
# corpus toward these sources' token distribution.
TARGET_SOURCES = ("src0", "src1", "src2", "src3")
MICROS = 1_000_000


def _round_half_away(x: float) -> int:
    """Python's round() is banker's; Spark round() and DuckDB round()
    are half-away-from-zero. Match the SQL engines."""
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def feature_buckets(text: F.Column) -> F.Column:
    """Hashed n-gram feature ids for one document: bucket ids of every
    lowercased unigram and every adjacent bigram. Map-only; the bigram
    pass is zip_with over the token array and its shift-by-one (HOF
    ARGUMENTS evaluate once per row — the element_at(ws, i) formulation
    re-tokenized the document per element, O(T^2) interpreted). A
    bucket id is the 28-bit md5 prefix mod N_BUCKETS
    (``functions/hashing.py``), so the DuckDB oracle computes the same."""
    ws = F.transform(token_array(text), lambda x: F.lower(x))
    uni = F.transform(ws, lambda x: md5_int(x, 7) % N_BUCKETS)
    n = F.size(ws)
    bi = F.when(n < 2, F.array().cast("array<bigint>")).otherwise(
        F.zip_with(
            F.slice(ws, 1, n - 1),
            F.slice(ws, 2, n - 1),
            lambda a, b: md5_int(F.concat(a, F.lit(" "), b), 7) % N_BUCKETS,
        )
    )
    return F.concat(uni, bi)


def _feats_sql() -> str:
    bigram = "ws[i] || ' ' || ws[i+1]"
    uni_b = f"({md5_int_sql('x', 7)} % {N_BUCKETS})"
    bi_b = f"({md5_int_sql(bigram, 7)} % {N_BUCKETS})"
    return (
        f"WITH w AS (SELECT *, {token_array_sql('lower(text)')} AS ws FROM documents), "
        "feats AS (SELECT *, list_concat("
        f"list_transform(ws, x -> {uni_b}), "
        f"list_transform(range(1, len(ws)), "
        f"i -> {bi_b})) AS bs FROM w)"
    )


def bucket_census(docs: DataFrame) -> DataFrame:
    """Per-bucket (raw count, target count) over the whole corpus — the
    hashed-n-gram 'model fit' step. Returns N_BUCKETS rows."""
    is_t = F.col("source").isin(*TARGET_SOURCES)
    flat = docs.select(
        is_t.alias("is_target"),
        F.explode(feature_buckets(F.col("text"))).alias("b"),
    )
    return flat.groupBy("b").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("n_target"),
    )


def _log_ratio_micros(census_rows) -> list[int]:
    """Laplace-smoothed log importance ratio per bucket, in integer
    micros (half-away rounding to match SQL round())."""
    n_raw = [0] * N_BUCKETS
    n_t = [0] * N_BUCKETS
    for r in census_rows:
        n_raw[r["b"]] = r["n_raw"]
        n_t[r["b"]] = r["n_target"]
    tot_r = sum(n_raw) + N_BUCKETS
    tot_t = sum(n_t) + N_BUCKETS
    return [
        _round_half_away(
            (math.log((n_t[b] + 1) / tot_t) - math.log((n_raw[b] + 1) / tot_r))
            * MICROS
        )
        for b in range(N_BUCKETS)
    ]


def dsir_logweights(docs: DataFrame, single_pass: bool = False) -> DataFrame:
    """Per-document hashed-n-gram log importance weight (integer micros)
    plus the feature count. Two Spark jobs: the census (one bounded-key
    aggregation, collected like IVF centroids), then a map-only scoring
    pass folding each document's buckets over the broadcast-literal
    log-ratio table.

    ``single_pass=True`` is the VERDICT-r3-#3 companion for DSIR: the
    default formulation tokenizes the corpus twice (census, then
    scoring); the single-pass mode persists the (doc_id, bs) feature
    frame so tokenize + 2·md5-per-token runs ONCE, reads the census off
    the cache, builds the scoring frame off the cache, and pins the
    scoring result with an eager localCheckpoint (doc_id + two longs per
    row) so the cache can be released before returning. Identical
    output by construction (regression-tested); the trade is one
    feature-frame materialization (~16 B/token) against a second full
    tokenize+hash pass — at 100 TB take the cache.

    Columns: doc_id, n_features, logw_micros."""
    if not single_pass:
        lr = _log_ratio_micros(bucket_census(docs).collect())
        return _score_frame(docs.select("doc_id", _bs().alias("bs")), lr)
    from pyspark import StorageLevel

    feats = docs.select(
        "doc_id",
        F.col("source").isin(*TARGET_SOURCES).alias("is_target"),
        _bs().alias("bs"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        census = (
            feats.select("is_target", F.explode("bs").alias("b"))
            .groupBy("b")
            .agg(
                F.count("*").alias("n_raw"),
                F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias(
                    "n_target"
                ),
            )
        )
        lr = _log_ratio_micros(census.collect())
        return _score_frame(feats, lr).localCheckpoint(eager=True)
    finally:
        feats.unpersist()


def _bs() -> F.Column:
    return feature_buckets(F.col("text"))


def _score_frame(with_bs: DataFrame, lr: list[int]) -> DataFrame:
    """Map-only scoring over a frame carrying a ``bs`` bucket-array
    column: fold each document's buckets over the literal table."""
    lr_arr = F.array(*[F.lit(v).cast("long") for v in lr])
    return with_bs.select(
        "doc_id",
        F.size("bs").cast("long").alias("n_features"),
        F.aggregate(
            F.col("bs"),
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.element_at(lr_arr, (b + 1).cast("int")),
        ).alias("logw_micros"),
    )


def _gumbel_micros(id_col: F.Column) -> F.Column:
    """Deterministic Gumbel(0,1) noise in integer micros from the
    md5-uniform of the doc id: u = (h28 + 0.5) / 2^28, g = -ln(-ln u).
    Content-derived, so selection is reproducible across runs, engines,
    and cluster sizes (same property as sampling.sample_bucket)."""
    h28 = md5_int(id_col.cast("string"), 7).cast("double")
    u = (h28 + F.lit(0.5)) / F.lit(float(1 << 28))
    return F.round(-F.log(-F.log(u)) * MICROS).cast("long")


def dsir_sample(docs: DataFrame, k: int = DSIR_K) -> DataFrame:
    """Gumbel-top-k selection over the importance weights == sampling k
    documents without replacement with probability proportional to
    exp(logw) (softmax of the log weights) — the DSIR resampling step,
    made deterministic by deriving the Gumbel noise from the doc id.
    orderBy().limit() compiles to TakeOrdered (per-partition top-k +
    k-row driver merge), never a full sort.

    Columns: doc_id, logw_micros, sample_key."""
    w = dsir_logweights(docs)
    key = (F.col("logw_micros") + _gumbel_micros(F.col("doc_id"))).alias(
        "sample_key"
    )
    return (
        w.select("doc_id", "logw_micros", key)
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(k)
    )


# ---------------------------------------------------------------- SQL mirrors
def _lr_sql() -> str:
    """CTE chain computing the per-bucket log-ratio micros table in
    DuckDB — the full census replayed in SQL (same pattern as the
    Lloyd-trained IVF oracle)."""
    return (
        f"{_feats_sql()}, "
        "flat AS (SELECT source IN "
        f"{tuple(TARGET_SOURCES)} AS is_t, unnest(bs) AS b FROM feats), "
        "dist AS (SELECT b, count(*) AS n_raw, "
        "count(*) FILTER (WHERE is_t) AS n_t FROM flat GROUP BY b), "
        "tot AS (SELECT sum(n_raw) + "
        f"{N_BUCKETS} AS tr, sum(n_t) + {N_BUCKETS} AS tt FROM dist), "
        "lr AS (SELECT b, CAST(round((ln((n_t + 1) / tt) - "
        f"ln((n_raw + 1) / tr)) * {MICROS}) AS BIGINT) AS lrm "
        "FROM dist, tot)"
    )


def dsir_logweights_sql() -> str:
    return f"""
{_lr_sql()},
perdoc AS (SELECT doc_id, unnest(bs) AS b FROM feats),
summed AS (SELECT p.doc_id, sum(l.lrm) AS lw
           FROM perdoc p JOIN lr l USING (b) GROUP BY p.doc_id)
SELECT f.doc_id, len(f.bs)::BIGINT AS n_features,
       coalesce(s.lw, 0)::BIGINT AS logw_micros
FROM feats f LEFT JOIN summed s USING (doc_id)
"""


def dsir_sample_sql() -> str:
    h28 = f"({md5_int_sql('CAST(doc_id AS VARCHAR)', 7)}::DOUBLE)"
    g = (
        f"CAST(round(-ln(-ln(({h28} + 0.5) / {float(1 << 28)})) * {MICROS})"
        " AS BIGINT)"
    )
    return f"""
WITH w AS ({dsir_logweights_sql()})
SELECT doc_id, logw_micros, logw_micros + {g} AS sample_key
FROM w ORDER BY sample_key DESC, doc_id LIMIT {DSIR_K}
"""
