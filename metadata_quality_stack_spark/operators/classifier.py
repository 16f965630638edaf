"""Distributed trained quality classifier: logistic regression over
hashed bag-of-n-grams, the CCNet / GPT-3-appendix / LLaMA
"looks-like-the-target-domain" filter (all public: Wenzek et al.
arXiv:1911.00359 §4.3; Brown et al. arXiv:2005.14165 App. A; Touvron et
al. arXiv:2302.13971 §2) re-expressed as Spark dataflow. Complements
[[dsir]]: DSIR soft-weights documents toward the target distribution,
this trains a discriminative model and hard-scores them.

Feature space and labels are shared with DSIR: hashed unigram+bigram
buckets (dsir.feature_buckets, 256 buckets + 1 bias slot) and
``source IN TARGET_SOURCES`` as the positive class — the "treat
curated sources as the positive set, the raw crawl as negative"
construction all three papers use.

Training = full-batch gradient descent, K rounds. Per round:

* SCORING is map-only — fold each document's bucket array over the
  broadcast-literal weight table (same shape as dsir_logweights).
* The GRADIENT is one bounded-key aggregation: explode bucket ids with
  the per-document residual attached, groupBy(bucket) — map-side
  partial aggregation means the exchange moves O(257 x partitions)
  rows per round, never O(total tokens). 257 sums come back to the
  driver (exactly the Lloyd-IVF centroid pattern,
  similarity.ivf_train), the weight update happens there, and the new
  weights re-enter the plan as literals.

So a K-round fit is K tiny-shuffle jobs over however many petabytes the
corpus is, with driver state of 257 longs — the architecture a
1000-executor fit wants.

Cross-engine exactness (the gate problem for iterative float training):
distributed float SUMS are addition-order-dependent, so nothing sums
doubles across rows. Weights live in integer MICROS; the per-document
sigmoid is one double exp() from an integer-micro logit (bit-identical
in both engines); the residual is immediately rounded half-away to
integer micros; gradient sums are therefore BIGINT and exact in any
order; the driver-side update rounds once more. The DuckDB oracle
replays ALL K rounds in chained CTEs (classifier_weights_sql) and
hash-matches the final weight table and the per-document scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators import dsir
from metadata_quality_stack_spark.operators.dsir import (
    MICROS,
    N_BUCKETS,
    TARGET_SOURCES,
    _round_half_away,
)

BIAS = N_BUCKETS  # bucket id 256 appended once per doc
N_WEIGHTS = N_BUCKETS + 1
TRAIN_ROUNDS = 3
LR_MICROS_PER_UNIT = 2.0  # plain GD step on the mean gradient


def _features(text: F.Column) -> F.Column:
    """dsir hashed uni+bigram buckets + the constant bias bucket."""
    return F.concat(
        dsir.feature_buckets(text), F.array(F.lit(BIAS).cast("bigint"))
    )


def _score_micros(feats: F.Column, w_micros: list[int]) -> F.Column:
    """Map-only logit: fold the doc's bucket ids over the literal
    weight array (BIGINT micros, order-free)."""
    arr = F.array(*[F.lit(int(v)).cast("long") for v in w_micros])
    return F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(arr, (b + 1).cast("int")),
    )


def _label(source: F.Column) -> F.Column:
    return source.isin(*TARGET_SOURCES).cast("int")


def _resid_micros(score_micros: F.Column, y: F.Column) -> F.Column:
    """round((sigmoid(score) - y) * 1e6) — the only float step, one
    exp() per doc per round, then straight back to integer micros."""
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-score_micros.cast("double") / F.lit(float(MICROS)))
    )
    return F.round((p - y.cast("double")) * MICROS, 0).cast("long")


def _base_frame(docs: DataFrame) -> DataFrame:
    """The tokenize-once projection the fit runs over: per-doc hashed
    bucket array + label. ~16 bytes/token-id — the only thing worth
    holding across gradient rounds."""
    return docs.select(
        _features(F.col("text")).alias("bs"),
        _label(F.col("source")).alias("y"),
    )


def _grad_frame(base: DataFrame, w: list[int]) -> DataFrame:
    """One gradient round over a (bs, y) base frame: explode bucket ids
    with the per-doc residual attached, groupBy(bucket) — 257 keys."""
    r = _resid_micros(_score_micros(F.col("bs"), w), F.col("y"))
    return (
        base.select(r.alias("r"), F.explode(F.col("bs")).alias("b"))
        .groupBy("b")
        .agg(F.sum("r").alias("g"))
    )


# Fit memo keyed by (plan semanticHash, rounds): the gate runs five
# classifier readouts (weights/scores/confusion/sweep/calibration) over
# the SAME corpus in one process — without the memo each re-runs the
# full K-round fit. semanticHash identifies the logical plan (parquet
# paths / local data included), so the cache is exact for static inputs;
# a process that mutates files in place behind an identical plan should
# clear it (gate and tests never do).
_FIT_CACHE: dict[tuple[int, int], list[int]] = {}


def train_weights(docs: DataFrame, rounds: int = TRAIN_ROUNDS) -> list[int]:
    """K rounds of full-batch GD. Returns N_WEIGHTS integer micros.
    Each round is ONE Spark job whose shuffle is 257 keys; the weight
    state (257 longs) round-trips through the driver like IVF centroids.

    The corpus is TOKENIZED ONCE: the (bs, y) base frame is persisted
    (memory, disk spill) before the round loop, so rounds 2..K and the
    n_docs count read cached bucket arrays instead of re-running
    tokenize + 2 md5 per token over the corpus — at 100 TB that was the
    dominant cost multiplied by K for no information gain (VERDICT r3
    #3). The count() both materializes the cache and supplies n_docs in
    one action. Plan-asserted in tests/test_classifier.py."""
    from pyspark import StorageLevel

    try:
        memo_key = (docs.semanticHash(), rounds)
    except Exception:
        memo_key = None
    if memo_key is not None and memo_key in _FIT_CACHE:
        return list(_FIT_CACHE[memo_key])

    base = _base_frame(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_docs = base.count()
        w = [0] * N_WEIGHTS
        for _ in range(rounds):
            grad_rows = _grad_frame(base, w).collect()
            grads = {int(row["b"]): int(row["g"]) for row in grad_rows}
            w = [
                w[j]
                - _round_half_away(
                    LR_MICROS_PER_UNIT * grads.get(j, 0) / n_docs
                )
                for j in range(N_WEIGHTS)
            ]
    finally:
        base.unpersist()
    if memo_key is not None:
        _FIT_CACHE[memo_key] = list(w)
    return w


def classifier_weights(docs: DataFrame) -> DataFrame:
    """Gate readout of the trained model: (bucket, w_micros),
    N_WEIGHTS rows. The training collects happen eagerly (like
    ivf_train); the returned frame is a tiny local relation."""
    w = train_weights(docs)
    return docs.sparkSession.createDataFrame(
        [(j, int(w[j])) for j in range(N_WEIGHTS)],
        "bucket long, w_micros long",
    )


def classifier_scores(docs: DataFrame, rounds: int = TRAIN_ROUNDS) -> DataFrame:
    """Per-document logit + prediction under the trained weights —
    the production keep/drop scoring pass, MAP-ONLY (plan-asserted):
    one fold over the bucket array against the broadcast-literal
    weight table, no joins, no shuffles.

    Columns: doc_id, label, score_micros, pred."""
    w = train_weights(docs, rounds)
    s = _score_micros(_features(F.col("text")), w)
    return docs.select(
        "doc_id",
        _label(F.col("source")).cast("long").alias("label"),
        s.alias("score_micros"),
        (s > 0).cast("long").alias("pred"),
    )


# ---------------------------------------------------------------- SQL mirrors
def _weights_cte() -> str:
    """Chained-CTE replay of the full K-round fit (the ivf_trained_sql
    pattern): feats -> w0 (zeros) -> per round (scores, residuals,
    grads, updated weights)."""
    parts = [
        f"{dsir._feats_sql()}, "
        "fx AS (SELECT doc_id, "
        f"list_concat(bs, [{BIAS}::BIGINT]) AS bs, "
        f"(source IN {tuple(TARGET_SOURCES)})::INT AS y, "
        "source FROM feats), "
        "n AS (SELECT count(*) AS n_docs FROM fx), "
        "w0 AS (SELECT unnest(range(0, "
        f"{N_WEIGHTS})) AS b, 0::BIGINT AS w)"
    ]
    for t in range(TRAIN_ROUNDS):
        prev, cur = f"w{t}", f"w{t + 1}"
        parts.append(
            f"s{t} AS (SELECT f.doc_id, f.y, sum(w.w) AS score "
            f"FROM (SELECT doc_id, y, unnest(bs) AS b FROM fx) f "
            f"JOIN {prev} w USING (b) GROUP BY f.doc_id, f.y), "
            f"r{t} AS (SELECT doc_id, CAST(round((1.0 / (1.0 + "
            f"exp(-(score / {MICROS}.0))) - y) * {MICROS}) AS BIGINT) "
            f"AS r FROM s{t}), "
            f"g{t} AS (SELECT f.b, sum(r.r) AS g FROM "
            "(SELECT doc_id, unnest(bs) AS b FROM fx) f "
            f"JOIN r{t} r USING (doc_id) GROUP BY f.b), "
            f"{cur} AS (SELECT w.b, w.w - CAST(round("
            f"{LR_MICROS_PER_UNIT} * coalesce(g.g, 0) / n.n_docs) "
            f"AS BIGINT) AS w FROM {prev} w LEFT JOIN g{t} g "
            "USING (b), n)"
        )
    return ",\n".join(parts)


def classifier_weights_sql() -> str:
    # _feats_sql already opens the WITH clause
    return (
        f"{_weights_cte()}\n"
        f"SELECT b AS bucket, w AS w_micros FROM w{TRAIN_ROUNDS}"
    )


def classifier_scores_sql() -> str:
    return f"""
{_weights_cte()},
final AS (SELECT f.doc_id, f.y, sum(w.w) AS score
          FROM (SELECT doc_id, y, unnest(bs) AS b FROM fx) f
          JOIN w{TRAIN_ROUNDS} w USING (b) GROUP BY f.doc_id, f.y)
SELECT doc_id, y::BIGINT AS label, score::BIGINT AS score_micros,
       (score > 0)::BIGINT AS pred
FROM final
"""


def classifier_confusion(docs: DataFrame) -> DataFrame:
    """Evaluation readout of the trained filter: confusion-matrix counts
    of (label, pred) — at most 4 rows, ONE bounded-key aggregation over
    the map-only scoring pass. The per-cell counts are what precision/
    recall/F1 monitoring derives from at 100 TB (the counts travel, the
    docs don't).

    Columns: label, pred, n_docs."""
    return (
        classifier_scores(docs)
        .groupBy("label", "pred")
        .agg(F.count("*").alias("n_docs"))
    )


def classifier_confusion_sql() -> str:
    return f"""
WITH scored AS ({classifier_scores_sql()})
SELECT label, pred, count(*)::BIGINT AS n_docs
FROM scored GROUP BY label, pred
"""


# Logit-micro operating points for the PR sweep: 0 is the confusion
# readout's point; the spread covers sigmoid(p) ~ 0.12 .. 0.88.
SWEEP_THRESHOLDS = (
    -2_000_000,
    -1_000_000,
    -500_000,
    0,
    500_000,
    1_000_000,
    2_000_000,
)


def classifier_pr_sweep(docs: DataFrame) -> DataFrame:
    """Confusion counts at EVERY candidate logit threshold — the
    precision/recall tuning curve CCNet-style filters are actually
    operated with (pick the threshold, not retrain). One map-only
    scoring pass crossed with a broadcast literal threshold table, then
    a bounded-key aggregation: |thresholds| rows of four counts travel,
    the documents don't. Precision/recall/F1 at each point derive from
    the counts downstream.

    Columns: threshold, tp, fp, fn, tn."""
    scores = classifier_scores(docs)
    th = docs.sparkSession.createDataFrame(
        [(int(t),) for t in SWEEP_THRESHOLDS], "threshold long"
    )
    hit = F.col("score_micros") > F.col("threshold")
    pos = F.col("label") == 1
    cnt = lambda c: F.sum(c.cast("long")).alias  # noqa: E731
    return (
        scores.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            cnt(hit & pos)("tp"),
            cnt(hit & ~pos)("fp"),
            cnt(~hit & pos)("fn"),
            cnt(~hit & ~pos)("tn"),
        )
    )


def classifier_pr_sweep_sql() -> str:
    th = ", ".join(str(int(t)) for t in SWEEP_THRESHOLDS)
    return f"""
WITH scored AS ({classifier_scores_sql()}),
th AS (SELECT unnest([{th}])::BIGINT AS threshold)
SELECT threshold,
  coalesce(sum(((score_micros > threshold) AND label = 1)::BIGINT), 0)::BIGINT AS tp,
  coalesce(sum(((score_micros > threshold) AND label = 0)::BIGINT), 0)::BIGINT AS fp,
  coalesce(sum((NOT (score_micros > threshold) AND label = 1)::BIGINT), 0)::BIGINT AS fn,
  coalesce(sum((NOT (score_micros > threshold) AND label = 0)::BIGINT), 0)::BIGINT AS tn
FROM scored, th GROUP BY threshold
"""


# Calibration bins: fixed logit-micro edges, CLAMPED to [0, n_bins-1] —
# integer arithmetic end to end so both engines bin identically. Edges
# sized to the micro-GD logit scale (residuals are x1e6, so K rounds
# put logits in the tens of millions of micros; sf0.01 spans ~6M..78M).
CALIB_LO = 0
CALIB_WIDTH = 10_000_000
CALIB_BINS = 8


def classifier_calibration(docs: DataFrame) -> DataFrame:
    """Reliability readout for the trained filter: bucket every
    document's logit into fixed micro-width bins and count docs and
    true positives per bin. A well-calibrated filter shows pos_rate
    rising monotonically with the bin — the plot an operator checks
    before trusting the PR sweep's threshold choice (CCNet §4.4 tunes
    on exactly this curve; public).

    Scale: one map-only scoring pass then a ≤ n_bins-key aggregate —
    counts travel, documents don't. All-integer binning (floor div on
    micros) keeps the two engines bit-identical.

    Columns: bin, lo_micros, n_docs, n_pos."""
    s = classifier_scores(docs)
    raw = F.floor((F.col("score_micros") - CALIB_LO) / CALIB_WIDTH)
    b = F.greatest(F.least(raw, F.lit(CALIB_BINS - 1)), F.lit(0)).cast(
        "long"
    )
    return (
        s.select(b.alias("bin"), "label")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("label").alias("n_pos"),
        )
        .select(
            "bin",
            (F.col("bin") * CALIB_WIDTH + CALIB_LO).alias("lo_micros"),
            "n_docs",
            "n_pos",
        )
    )


def classifier_calibration_sql() -> str:
    return f"""
WITH scored AS ({classifier_scores_sql()}),
b AS (SELECT greatest(least(
        ((score_micros - {CALIB_LO}) // {CALIB_WIDTH}),
        {CALIB_BINS - 1}), 0)::BIGINT AS bin, label
      FROM scored)
SELECT bin, (bin * {CALIB_WIDTH} + {CALIB_LO})::BIGINT AS lo_micros,
       count(*)::BIGINT AS n_docs,
       coalesce(sum(label), 0)::BIGINT AS n_pos
FROM b GROUP BY bin
"""
