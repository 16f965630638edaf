"""Corpus shaping operators for training-data pipelines: deterministic
sampling, per-key quotas, score quantiles.

These are the operations a 100 TB curation run does between scoring and
export: carve a stable dev split, cap any one domain's contribution, and
read the score distribution before choosing thresholds. All native
expressions; the sample bucket is md5-derived (not engine-internal
xxhash) so the DuckDB oracle computes identical membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import (
    hex_int,
    hex_int_sql,
    md5_int,
    md5_int_sql,
)
from metadata_quality_stack_spark.functions.text import token_array, token_array_sql

SAMPLE_BUCKETS = 100
SPLIT_VAL_PCT = 5  # buckets of SAMPLE_BUCKETS held out for validation
SPLIT_TEST_PCT = 5  # ... and for test
SCORE_PROBS = (0.1, 0.25, 0.5, 0.75, 0.9)
CHUNK_CHARS = 500
CHUNK_OVERLAP = 50
PACK_CONTEXT_CHARS = 2000
PACK_SHARDS = 8
TRIM_PCT = 1  # length percentile cut at each end
EVAL_PER_STRATUM = 20


def sample_bucket(id_col: F.Column) -> F.Column:
    """Stable 0..99 bucket from md5 of the stringified id — content-
    derived, so the same document lands in the same split across runs,
    clusters, and engines (the property rand()-sampling lacks)."""
    return md5_int(id_col.cast("string"), 7) % SAMPLE_BUCKETS


def deterministic_sample(df: DataFrame, rate_pct: int = 10) -> DataFrame:
    """Keep ~rate_pct% of rows, selected by content hash. Map-only: the
    predicate evaluates inside the scan stage, no shuffle, and composes
    with partition pruning upstream."""
    return df.filter(sample_bucket(F.col("doc_id")) < rate_pct)


def _content_split() -> tuple[F.Column, F.Column]:
    """(bucket, split) expressions keyed on md5(text) — shared by the
    per-doc assignment and the token-budget rollup."""
    b = md5_int(F.col("text"), 7) % SAMPLE_BUCKETS
    split = (
        F.when(b < SPLIT_TEST_PCT, F.lit("test"))
        .when(b < SPLIT_TEST_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return b, split


def corpus_token_budget(docs: DataFrame) -> DataFrame:
    """The pre-training budget table: documents and whitespace tokens per
    (split, lang) — the first number anyone asks of a curated corpus
    ("how many train tokens per language do we actually have?"). Built
    on the same content-hash split as train_val_test_split, so the
    numbers describe exactly the splits that ship. Map-only token count
    + one partial-aggregated groupBy on a tiny (split, lang) key space."""
    _, split = _content_split()
    per_doc = docs.select(
        split.alias("split"),
        "lang",
        F.size(token_array(F.col("text"))).cast("long").alias("nt"),
    )
    return per_doc.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
    )


def corpus_token_budget_sql() -> str:
    """DuckDB mirror of :func:`corpus_token_budget` (same md5 bucket and
    tokenization as the rest of the gate)."""
    b = f"({md5_int_sql('text', 7)} % {SAMPLE_BUCKETS})"
    return f"""
WITH t AS (
  SELECT CASE WHEN {b} < {SPLIT_TEST_PCT} THEN 'test'
              WHEN {b} < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'train' END AS split,
         lang, len({token_array_sql('text')}) AS nt
  FROM documents
)
SELECT split, lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
FROM t GROUP BY 1, 2
"""


def train_val_test_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment keyed on the CONTENT
    fingerprint, not the doc id: bucket = md5(text)-derived 0..99, so
    byte-identical duplicate documents always land in the SAME split —
    the exact-duplicate leakage guard (id-keyed or rand() splits let a
    page crawled twice straddle train and test; fuzzy leakage is the
    companion operator contamination.decontaminate). Map-only: the
    bucket is one md5 over a column already being read, no shuffle, and
    the assignment is reproducible across runs, engines, and cluster
    sizes.

    Columns: doc_id, source, lang, bucket, split."""
    b, split = _content_split()
    return docs.select(
        "doc_id",
        "source",
        "lang",
        b.alias("bucket"),
        split.alias("split"),
    )


def train_val_test_split_sql() -> str:
    """DuckDB mirror of :func:`train_val_test_split` (identical md5
    bucket arithmetic)."""
    b = f"({md5_int_sql('text', 7)} % {SAMPLE_BUCKETS})"
    return f"""
SELECT doc_id, source, lang, {b} AS bucket,
       CASE WHEN {b} < {SPLIT_TEST_PCT} THEN 'test'
            WHEN {b} < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""


def cap_per_key(
    df: DataFrame, key_col: str, n: int, order_col: str
) -> DataFrame:
    """At most ``n`` rows per key, deterministic preference order — the
    per-domain quota every crawl-curation pipeline applies so one hot
    domain cannot dominate the corpus. One shuffle on the key; skewed
    keys are exactly the rows being truncated, and AQE's skew-join
    splitting applies to the window exchange."""
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def score_quantiles(scored: DataFrame) -> DataFrame:
    """Exact score quantiles (linear interpolation — Spark ``percentile``
    == DuckDB ``quantile_cont``), the threshold-choosing readout. Exact,
    not approx_percentile: the oracle must match bit-for-bit; at 100 TB
    swap in approx_percentile(…, accuracy) behind the same column names."""
    return scored.agg(
        *[
            F.round(
                F.expr(f"percentile(total_score, {p!r})"), 4
            ).alias(f"p{int(p * 100)}")
            for p in SCORE_PROBS
        ]
    )


def chunk_documents(
    docs: DataFrame, chunk_chars: int = CHUNK_CHARS, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """Split documents into fixed-size overlapping character windows —
    the sequence-shaping step between curation and tokenization (every
    pre-training pipeline packs docs into model-context-sized pieces;
    a token-budgeted variant swaps length() for a token count, same
    plumbing). Map-only: sequence + explode + substring are all native
    expressions evaluated inside the scan stage — no shuffle, no UDF,
    and chunking composes with partition pruning. Empty/NULL texts
    produce no chunks.

    Output: (doc_id, chunk_idx, chunk_start [1-based], chunk_text,
    n_chunk_chars)."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    step = chunk_chars - overlap
    n = F.length("text")
    starts = F.when(n >= 1, F.sequence(F.lit(1), n, F.lit(step))).otherwise(
        F.array().cast("array<int>")
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.posexplode(starts).alias("chunk_idx", "chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.substring(F.col("text"), F.col("chunk_start"), F.lit(chunk_chars)).alias(
                "chunk_text"
            ),
        )
        .withColumn("n_chunk_chars", F.length("chunk_text").cast("long"))
    )


def chunk_documents_sql() -> str:
    """DuckDB mirror of :func:`chunk_documents` (same 1-based substr)."""
    step = CHUNK_CHARS - CHUNK_OVERLAP
    return f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(1, len(text), {step})) AS chunk_start,
  FROM documents WHERE len(text) >= 1
)
SELECT doc_id, CAST((chunk_start - 1) // {step} AS BIGINT) AS chunk_idx,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       substr(text, chunk_start, {CHUNK_CHARS}) AS chunk_text,
       CAST(len(substr(text, chunk_start, {CHUNK_CHARS})) AS BIGINT)
         AS n_chunk_chars
FROM starts
"""


def lang_mix_weights(docs: DataFrame) -> DataFrame:
    """Per-language resampling weights that rebalance the corpus to a
    uniform language mix: weight_l = target_share / actual_share (>1 =
    upsample, <1 = downsample) — the mixing table a data-loader or a
    weighted sampler consumes. Two tiny aggregations (per-lang counts,
    then the 1-row totals broadcast back); the big table is scanned
    once and only lang moves through the exchange."""
    per = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("total"), F.count("*").alias("n_langs")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("total"), 6).alias("actual_share"),
        F.round(1.0 / F.col("n_langs"), 6).alias("target_share"),
        F.round(
            (F.col("total") / F.col("n_langs")) / F.col("n_docs"), 6
        ).alias("weight"),
    )


def pack_chunks(
    chunks: DataFrame, context_chars: int = PACK_CONTEXT_CHARS
) -> DataFrame:
    """Concat-and-slice packing accounting (the GPT-style pretraining
    layout: concatenate a shard's chunks in deterministic order, slice
    into fixed context windows): assigns every chunk its byte offset in
    the shard stream and the context-window index where it starts.

    Scale shape: packing is embarrassingly parallel per shard —
    shard = doc_id % PACK_SHARDS, ONE shuffle on the shard key, a running
    sum window inside each shard, no global ordering anywhere (a
    single global cumsum would serialize the corpus through one
    partition; per-shard streams are exactly how a multi-worker data
    loader consumes them). Deterministic order: (doc_id, chunk_idx).

    Output: (shard, doc_id, chunk_idx, start_offset [0-based in the
    shard stream], pack_bin = start_offset // context_chars)."""
    sharded = chunks.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("long")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("n_chunk_chars").over(w) - F.col("n_chunk_chars")
    return sharded.select(
        "shard",
        "doc_id",
        "chunk_idx",
        start.alias("start_offset"),
        F.floor(start / context_chars).alias("pack_bin"),
    )


def pack_chunks_sql() -> str:
    """DuckDB mirror of chunk_documents |> pack_chunks."""
    return f"""
WITH chunks AS ({chunk_documents_sql()}),
sharded AS (SELECT *, CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard FROM chunks),
off AS (
  SELECT shard, doc_id, chunk_idx,
         sum(n_chunk_chars) OVER (
           PARTITION BY shard ORDER BY doc_id, chunk_idx
           ROWS UNBOUNDED PRECEDING) - n_chunk_chars AS start_offset
  FROM sharded
)
SELECT shard, doc_id, chunk_idx, CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // {PACK_CONTEXT_CHARS} AS BIGINT) AS pack_bin
FROM off
"""


def rebalance_corpus(docs: DataFrame) -> DataFrame:
    """Materialize the :func:`lang_mix_weights` table into an actual
    resampled corpus: every doc gets floor(weight) deterministic copies
    plus one more iff its md5 bucket falls under the fractional part —
    so upsampled languages repeat (integer + stochastic-but-stable
    fraction) and downsampled ones thin, with NO rand(): membership is
    content-derived and reproducible across runs/engines.

    Scale shape: the 5-row weight table broadcast-joins onto the scan
    (map-only), and the copy fan-out is explode(sequence(1, n)) in the
    same stage — the only shuffles are inside the tiny weight-table
    aggregation itself. Output: (doc_id, lang, copy_idx)."""
    w = lang_mix_weights(docs).select("lang", "weight")
    base = F.floor("weight").cast("long")
    frac_pct = F.floor((F.col("weight") - F.floor("weight")) * 100).cast(
        "long"
    )
    extra = (sample_bucket(F.col("doc_id")) < frac_pct).cast("long")
    n_copies = (base + extra).alias("n_copies")
    return (
        docs.join(F.broadcast(w), "lang")
        .select("doc_id", "lang", n_copies)
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias(
                "copy_idx"
            ),
        )
    )


def rebalance_corpus_sql() -> str:
    """DuckDB mirror of :func:`rebalance_corpus` (same rounded weights,
    same md5 bucket)."""
    return f"""
WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, count(*) AS n_langs FROM per),
w AS (SELECT lang, round((total / n_langs) / n_docs, 6) AS weight FROM per, tot),
c AS (
  SELECT d.doc_id, d.lang,
         CAST(floor(w.weight) AS BIGINT)
         + CASE WHEN {md5_int_sql('CAST(d.doc_id AS VARCHAR)', 7)}
                     % {SAMPLE_BUCKETS}
                     < CAST(floor((w.weight - floor(w.weight)) * 100) AS BIGINT)
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN w USING (lang)
)
SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS copy_idx
FROM c WHERE n_copies >= 1
"""


N_SHUFFLE_SHARDS = 8


def shuffle_shards(docs: DataFrame) -> DataFrame:
    """Deterministic GLOBAL SHUFFLE into training shards — the step that
    defeats crawl ordering (domain runs, recency runs) before sequence
    packing, without rand(): shard and within-shard order both derive
    from md5 of the doc id under a dedicated salt, so the exact same
    shard layout reproduces across runs, engines, and cluster sizes,
    and is independent of the sample/split buckets (different salt).

    Scale shape: ONE hash exchange on shard, then a per-shard sort. The
    window partitions by shard, so N_SHUFFLE_SHARDS bounds parallelism — at
    100 TB size N_SHUFFLE_SHARDS to the target training-file count (thousands),
    keeping each shard's sort a few GB. A writer composes this as
    repartition(N_SHUFFLE_SHARDS, shard) + sortWithinPartitions(shuffle_key)
    + partitionBy(shard), one file per shard; `pos` is emitted here so
    the gate can hash the ORDER itself, not just membership.

    Columns: doc_id, shard, shuffle_key, pos."""
    key = F.md5(
        F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string"))
    )
    shard = hex_int(key, 7) % N_SHUFFLE_SHARDS
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        docs.select(
            "doc_id", shard.alias("shard"), key.alias("shuffle_key")
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def shuffle_shards_sql() -> str:
    """DuckDB mirror of :func:`shuffle_shards` (same salted md5)."""
    key = f"md5('shuffle:' || CAST(doc_id AS VARCHAR))"
    return f"""
WITH k AS (
  SELECT doc_id, {key} AS shuffle_key,
         ({hex_int_sql(key, 7)} % {N_SHUFFLE_SHARDS}) AS shard
  FROM documents
)
SELECT doc_id, shard, shuffle_key,
       CAST(row_number() OVER (
            PARTITION BY shard ORDER BY shuffle_key, doc_id) AS BIGINT)
       AS pos
FROM k
"""


def temperature_mix(docs: DataFrame) -> DataFrame:
    """Temperature-based mixture weights across sources at alpha = 0.5
    — the GPT-3 / Pile recipe (Brown et al. arXiv:2005.14165 Table 2.2;
    Gao et al. arXiv:2101.00027 §1): sampling probability proportional
    to size^alpha, which up-weights small curated sources and damps the
    raw-crawl bulk. Output feeds a weighted sampler (e.g. dsir_sample's
    Gumbel top-k) or a per-source epoch planner.

    Cross-engine exactness with a float power: alpha = 1/2 makes the
    weight sqrt(size), and IEEE-754 sqrt is CORRECTLY ROUNDED — the one
    power both engines compute bit-identically. Each source's weight is
    floored to integer micros immediately (one multiply + floor, both
    exactly mirrored), so the normalizing sum is an INTEGER sum —
    order-independent, hence safe to aggregate distributed — and the
    final share is integer division to parts-per-million.

    Scale: one partial-agged groupBy over the source key, then a 1-row
    total broadcast-joined back. Source/domain counts are bounded
    (thousands), so the readout is tiny no matter the corpus size.

    Columns: source, n_docs, size_units, w_micros, p_ppm.
    """
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("size_units"),
    )
    w = F.floor(
        F.sqrt(F.col("size_units").cast("double")) * F.lit(1_000_000.0)
    ).cast("long")
    weighted = per.withColumn("w_micros", w)
    total = weighted.agg(F.sum("w_micros").alias("_tot"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "size_units",
            "w_micros",
            F.expr("(w_micros * 1000000) div _tot").alias("p_ppm"),
        )
    )


def temperature_mix_sql() -> str:
    return """
WITH per AS (
  SELECT source AS source, count(*)::BIGINT AS n_docs,
         coalesce(sum(n_chars), 0)::BIGINT AS size_units
  FROM documents GROUP BY 1
),
w AS (SELECT source, n_docs, size_units,
        CAST(floor(sqrt(size_units::DOUBLE) * 1000000.0) AS BIGINT)
          AS w_micros
      FROM per),
t AS (SELECT sum(w_micros)::BIGINT AS tot FROM w)
SELECT source, n_docs, size_units, w_micros,
       ((w_micros * 1000000) // tot)::BIGINT AS p_ppm
FROM w, t
"""


def length_outlier_trim(docs: DataFrame) -> DataFrame:
    """Per-language length-outlier trim: drop documents STRICTLY below
    the group's p{TRIM_PCT} length value or strictly above its p{100-TRIM_PCT}
    value (ties at the cutoff survive, so the rule is a pure value
    threshold). The C4/Gopher min/max-length rules with data-derived
    cutoffs instead of global constants — a 50-char page is an outlier
    in English but not necessarily in Chinese.

    Scale shape — deliberately NOT a per-document rank window (a global
    sort per language is the straggler at 10^12 docs, and `lang` is the
    canonical skewed key): pass 1 collapses the corpus to a (lang,
    length) HISTOGRAM — bounded by #langs x #distinct-lengths, not by
    rows — whose cumulative counts yield each group's two cutoff VALUES
    (a tiny window over the histogram); pass 2 broadcast-joins the
    #langs-row cutoff table back and filters map-side. Integer
    arithmetic only (rank_lo = n*TRIM_PCT//100), so both engines cut
    identically.

    Columns: doc_id, lang, n_chars, keep.
    """
    hist = docs.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy("n_chars")
    cum = hist.select(
        "lang",
        "n_chars",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("n"),
    )
    # lo cutoff: smallest value whose cumulative count exceeds n*TRIM_PCT//100
    # (i.e. the p{TRIM_PCT} value); hi cutoff: smallest value with
    # cum >= n - n*TRIM_PCT//100 (the p{100-TRIM_PCT} value)
    cuts = (
        cum.select(
            "lang",
            "n_chars",
            (F.col("cum") > F.expr(f"(n * {TRIM_PCT}) div 100")).alias("_lo_ok"),
            (F.col("cum") >= F.col("n") - F.expr(f"(n * {TRIM_PCT}) div 100")).alias(
                "_hi_ok"
            ),
        )
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("_lo_ok"), F.col("n_chars"))).alias("lo_val"),
            F.min(F.when(F.col("_hi_ok"), F.col("n_chars"))).alias("hi_val"),
        )
    )
    return (
        docs.join(F.broadcast(cuts), "lang", "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (
                (F.col("n_chars") >= F.col("lo_val"))
                & (F.col("n_chars") <= F.col("hi_val"))
            ).alias("keep"),
        )
    )


def length_outlier_trim_sql() -> str:
    return f"""
WITH hist AS (
  SELECT lang, n_chars, count(*)::BIGINT AS cnt
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT lang, n_chars,
         sum(cnt) OVER (PARTITION BY lang
                        ORDER BY n_chars) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM hist
),
cuts AS (
  SELECT lang,
         min(CASE WHEN cum > (n * {TRIM_PCT}) // 100 THEN n_chars END)
           AS lo_val,
         min(CASE WHEN cum >= n - (n * {TRIM_PCT}) // 100 THEN n_chars END)
           AS hi_val
  FROM cum GROUP BY 1
)
SELECT doc_id, d.lang, n_chars,
       (n_chars >= lo_val AND n_chars <= hi_val) AS keep
FROM documents d LEFT JOIN cuts USING (lang)
"""


def score_quantiles_sampled(scored: DataFrame) -> DataFrame:
    """The SCALE PATH for quantiles, still gate-exact: exact quantiles
    over a deterministic md5-bucket sample. Spark's approx_percentile is
    the usual 100 TB answer but its sketch is engine-private — the gate
    can never verify it. A content-keyed sample is the verifiable
    alternative: membership is a map-only predicate (same row set in any
    engine, any cluster size, any run), the exact percentile then runs
    over 10% of the data, and the estimate's error is the standard
    sampling error (~1/sqrt(n·rate)) rather than an opaque sketch bound.
    Emits n_sampled alongside so the reader can judge that error.

    Columns: n_sampled, p10, p25, p50, p75, p90."""
    s = scored.filter(sample_bucket(F.col("doc_id")) < 10)
    return s.agg(
        F.count("*").alias("n_sampled"),
        *[
            F.round(
                F.expr(f"percentile(total_score, {p!r})"), 4
            ).alias(f"p{int(p * 100)}")
            for p in SCORE_PROBS
        ],
    )


def quality_weighted_sample(scored: DataFrame) -> DataFrame:
    """Score-proportional soft sampling (the DCLM-B / "soft quality
    filter" alternative to a hard keep threshold): each document is kept
    with probability total_score / config.MAX_SCORE, so borderline pages enter
    the corpus at reduced rate instead of being cliff-dropped — the
    mixing knob used when a hard cut measurably hurts downstream
    diversity (Li et al. 2024, DataComp-LM §4.2; GPT-3's
    quality-weighted Common Crawl sampling, Brown et al. 2020 App. A).

    Determinism: the coin is the content-stable md5 bucket of the doc
    id (sample_bucket), and the comparison is the integer
    cross-multiplication ``bucket * MAX_SCORE < total_score *
    SAMPLE_BUCKETS`` — no division, no floats, so membership is
    bit-identical across engines/runs/cluster sizes and the DuckDB
    oracle replays it exactly. Map-only: the predicate fuses into the
    scoring projection's scan stage, no shuffle, composes with
    partition pruning; at 10^12 docs this is a free rider on the
    scoring pass.

    Columns: doc_id, total_score, rating."""
    from metadata_quality_stack_spark import config
    from metadata_quality_stack_spark.operators.rules import filter_scored

    m = config.MAX_SCORE
    b = sample_bucket(F.col("doc_id"))
    # filter_scored (observe barrier), NOT .filter(): pushdown would
    # re-inline the whole scoring expression tree into the predicate and
    # overflow Janino's 64 KB method limit (rules.filter_scored doc)
    return filter_scored(
        scored, b * F.lit(m) < F.col("total_score") * F.lit(SAMPLE_BUCKETS)
    ).select("doc_id", "total_score", "rating")


def quality_weighted_sample_sql(scored_cte: str) -> str:
    """DuckDB mirror of :func:`quality_weighted_sample` over a scored
    CTE body (same md5 bucket + integer cross-multiplication)."""
    from metadata_quality_stack_spark import config

    m = config.MAX_SCORE
    b = f"({md5_int_sql('CAST(doc_id AS VARCHAR)', 7)} % {SAMPLE_BUCKETS})"
    return (
        f"WITH scored AS ({scored_cte}) "
        "SELECT doc_id, total_score, rating FROM scored "
        f"WHERE {b} * {m} < total_score * {SAMPLE_BUCKETS}"
    )


def eval_set_stratified(
    docs: DataFrame,
    n_per_stratum: int = EVAL_PER_STRATUM,
) -> DataFrame:
    """Fixed-size per-stratum held-out sample (the eval-set builder: N
    docs from EVERY language/source regardless of how skewed the corpus
    mix is — a plain rate sample hands minority strata to chance).
    Membership is deterministic: rank within each stratum by
    (md5(id), id) — a content-stable pseudo-random order both engines
    compute identically — and keep the first N. cap_per_key is the
    quota sibling (deterministic PREFERENCE order); this one wants the
    opposite: an order uncorrelated with anything.

    One shuffle on the stratum key (bounded strata), and the skewed-
    stratum cost is capped by N: Spark 4 plans the row_number <= N
    filter as a ``WindowGroupLimit … Partial`` below the Exchange, so
    each map task ships at most N (id, stratum, md5) rows per stratum,
    never text (pinned in tests/test_plan_shapes.py).

    Columns: strata (aliased from lang), doc_id,
    rank_in_stratum (1-based)."""
    return (
        docs.select(F.col("lang").alias("strata"), "doc_id")
        .withColumn(
            "rank_in_stratum",
            F.row_number().over(
                Window.partitionBy("strata").orderBy(
                    F.md5(F.col("doc_id").cast("string")).asc(),
                    F.col("doc_id").asc(),
                )
            ),
        )
        .filter(F.col("rank_in_stratum") <= n_per_stratum)
    )


def eval_set_stratified_sql() -> str:
    """DuckDB mirror of :func:`eval_set_stratified` (identical md5-hex
    ordering — ASCII compare of lowercase hex is engine-independent)."""
    return f"""
SELECT strata, doc_id, rank_in_stratum FROM (
  SELECT lang AS strata, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         )::INT AS rank_in_stratum
  FROM documents)
WHERE rank_in_stratum <= {EVAL_PER_STRATUM}
"""
