"""Report-store analytics operators (SURVEY.md §2.5-2.7).

Spark re-expressions of the reference dashboard's pandas aggregations
(src/frontend/dashboard.py) and repo scans (src/api/tinydb_repo.py):
A6 distinct catalogs, A7 mean score, A8 rating histogram, A9 per-dimension
stats, A12 most-common rating, J5 latest-per-key window, O2 top-N, P4
date-range predicates, U1/U2 unions and distinct.

Each function takes DataFrames and returns a DataFrame with aliased,
deterministic output columns (floats rounded to fixed decimals so the
driver's value-hash comparison is stable across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from metadata_quality_stack_spark import config
from metadata_quality_stack_spark.functions.text import token_array, token_array_sql
from metadata_quality_stack_spark.operators.rules import apply_quality
from metadata_quality_stack_spark.oracle.sqlgen import DOC_META


def scored_documents(docs: DataFrame) -> DataFrame:
    """Native-profile per-document quality scores (the 'report store')."""
    return apply_quality(docs, meta_cols=DOC_META)


def rating_histogram(scored: DataFrame) -> DataFrame:
    """A8 — dashboard.py:97-100: count per rating bucket."""
    return scored.groupBy("rating").agg(F.count("*").alias("n_docs"))


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-key skew diagnostics — the one-row readout that decides
    whether a join/agg key needs salting and at what factor BEFORE the
    job runs at scale: key count, hottest key's row count, skew factor
    (max/mean), exact p50/p99 of per-key rows, and the salt count that
    would flatten the hottest key to roughly the mean task size
    (ceil(skew_factor), the n_salts argument of salted_repartition /
    run_incremental). Two bounded aggregations: per-key counts (keys
    shuffle, rows don't — map-side combine) then a 1-row rollup.

    Columns: n_keys, n_rows, max_key_rows, skew_factor, p50_key_rows,
    p99_key_rows, recommended_salts."""
    per = df.groupBy(key_col).agg(F.count("*").alias("n"))
    avg = F.sum("n") / F.count("*")
    return per.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_key_rows"),
        F.round(F.max("n") / avg, 4).alias("skew_factor"),
        F.percentile("n", 0.5).alias("p50_key_rows"),
        F.percentile("n", 0.99).alias("p99_key_rows"),
        F.ceil(F.max("n") / avg).cast("long").alias("recommended_salts"),
    )


def skew_report_sql(table: str, key_col: str) -> str:
    avg = "(sum(n) / count(*))"
    return f"""
WITH per AS (SELECT {key_col} AS k, count(*) AS n FROM {table} GROUP BY {key_col})
SELECT count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows,
       max(n)::BIGINT AS max_key_rows,
       round(max(n) / {avg}, 4) AS skew_factor,
       quantile_cont(n, 0.5) AS p50_key_rows,
       quantile_cont(n, 0.99) AS p99_key_rows,
       CAST(ceil(max(n) / {avg}) AS BIGINT) AS recommended_salts
FROM per
"""


def source_quality_filter(
    docs: DataFrame, min_keep_rate: float = 0.5
) -> DataFrame:
    """Domain-level filtering (the FineWeb/RefinedWeb move): score the
    corpus, compute each source's keep rate, then drop EVERY document
    from sources whose rate falls below ``min_keep_rate`` — spammy
    domains are removed wholesale, including their individually
    plausible pages.

    Scale shape: pass 1 is the map-only scoring projection feeding one
    bounded-key aggregation (sources, not docs, shuffle); the offending
    sources are a tiny relation that rides a BROADCAST anti-join back
    over the corpus — pass 2 never shuffles. Null-source docs survive
    (they can't be attributed to a bad domain; the presence RULES
    already penalize them per-document).

    Columns: doc_id, source."""
    scored = scored_documents(docs)
    rates = scored.groupBy("source").agg(
        (
            F.sum(F.when(F.col("keep"), 1).otherwise(0)) / F.count("*")
        ).alias("keep_rate")
    )
    bad = rates.filter(
        F.col("keep_rate") < F.lit(float(min_keep_rate))
    ).select("source")
    return (
        docs.select("source", "doc_id")
        .join(F.broadcast(bad), "source", "left_anti")
        .select("doc_id", "source")
    )


def dimension_stats(scored: DataFrame) -> DataFrame:
    """A9 — dashboard.py:176-254: avg/min/max per dimension, one row each.

    ONE aggregation over all dimensions, then an explode to the long
    shape: the round-1 version unioned one .agg per dimension, which
    re-executed the upstream scoring pipeline 5x from the scan — invisible
    at sf0.01, 5 redundant full passes at 100 TB (VERDICT r1 #4)."""
    aggs = []
    for d in config.DIMENSIONS:
        aggs += [
            F.round(F.avg(d), 4).alias(f"avg_{d}"),
            F.min(d).alias(f"min_{d}"),
            F.max(d).alias(f"max_{d}"),
        ]
    rows = F.array(
        *[
            F.struct(
                F.lit(d).alias("dimension"),
                F.col(f"avg_{d}").alias("avg_score"),
                F.col(f"min_{d}").alias("min_score"),
                F.col(f"max_{d}").alias("max_score"),
            )
            for d in config.DIMENSIONS
        ]
    )
    return (
        scored.agg(*aggs)
        .select(F.explode(rows).alias("r"))
        .select("r.dimension", "r.avg_score", "r.min_score", "r.max_score")
    )


def corpus_summary(scored: DataFrame) -> DataFrame:
    """A6+A7 — dashboard.py:94-95: distinct sources, mean total score."""
    return scored.agg(
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("total_score"), 4).alias("mean_score"),
        F.count("*").alias("n_docs"),
    )


def top_sources(scored: DataFrame) -> DataFrame:
    """O2 — dashboard.py:279-309: top-N sources by mean score (tiebreak source)."""
    return (
        scored.groupBy("source")
        .agg(F.round(F.avg("total_score"), 4).alias("avg_score"), F.count("*").alias("n_docs"))
        .orderBy(F.desc("avg_score"), F.asc("source"))
        .limit(5)
    )


def lang_histogram(docs: DataFrame) -> DataFrame:
    """A11 analog — per-partition lang histogram (north rule metric)."""
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """J5 — dashboard.py:267-276 latest-report-per-source: argmax window.
    Deterministic tiebreak on event_id desc."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def events_date_range(events: DataFrame, start: str, end: str) -> DataFrame:
    """P4 — tinydb_repo.py:89-93: date-range scan + per-type rollup."""
    return (
        events.filter(
            (F.col("ts") >= F.lit(start).cast("timestamp"))
            & (F.col("ts") < F.lit(end).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window rollup over event time — the batch twin of
    the streaming windowed histogram (streaming/stream.py). F.window is
    partition-prunable on ts and aggregates with map-side combine."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 30 minutes — the canonical lag + cumulative-
    sum window pair. One shuffle on user_id serves both windows (same
    partitioning); session stats per (user, session). The streaming twin
    is ``F.session_window`` in streaming/stream.py's aggregation family."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_timestamp, not cast: the parquet column is TIMESTAMP_NTZ, which
    # refuses a direct BIGINT cast
    secs = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60), 1
    ).otherwise(0)
    with_sess = events.withColumn(
        "session_id", F.sum(new_session).over(w)
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def events_props_extract(events: DataFrame) -> DataFrame:
    """Semi-structured payload extraction (§2.8 json fns): pull a field
    out of the JSON ``props`` column and aggregate it per event type —
    get_json_object evaluates inside codegen, no UDF, and the projection
    prunes every other column at the scan."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def dimension_correlation(scored: DataFrame) -> DataFrame:
    """A10 — dashboard.py:326-372: correlation of each dimension with the
    total, in ONE aggregation + explode (same one-scan rationale as
    dimension_stats). Manual corr (covar/stddev with nullif guard):
    ANSI-safe on zero-variance dimensions, mirroring the reference's
    exclusion of constant columns. Rounded to 4 to survive float-order
    differences."""
    y = F.col("total_score").cast("double")
    aggs = [F.stddev_pop(y).alias("_sy")]
    for d in config.DIMENSIONS:
        x = F.col(d).cast("double")
        aggs += [
            F.covar_pop(x, y).alias(f"cov_{d}"),
            F.stddev_pop(x).alias(f"sx_{d}"),
        ]
    rows = F.array(
        *[
            F.struct(
                F.lit(d).alias("dimension"),
                F.round(
                    F.col(f"cov_{d}")
                    / F.nullif(F.col(f"sx_{d}") * F.col("_sy"), F.lit(0.0)),
                    4,
                ).alias("corr_with_total"),
            )
            for d in config.DIMENSIONS
        ]
    )
    return (
        scored.agg(*aggs)
        .select(F.explode(rows).alias("r"))
        .select("r.dimension", "r.corr_with_total")
    )


def dimension_correlation_matrix(scored: DataFrame) -> DataFrame:
    """A10 full form — dashboard.py:326-372 computes the complete pairwise
    matrix over the 5 dimensions + total (6x6) with zero-variance columns
    excluded (their correlations are NULL here). One aggregation computes
    every pairwise covariance and per-column stddev in a single pass, then
    a projection emits the 36 (dim_x, dim_y, corr) rows."""
    cols = [*config.DIMENSIONS, "total_score"]
    aggs = []
    for i, a in enumerate(cols):
        aggs.append(F.stddev_pop(F.col(a).cast("double")).alias(f"s_{a}"))
        for b in cols[i:]:
            aggs.append(
                F.covar_pop(
                    F.col(a).cast("double"), F.col(b).cast("double")
                ).alias(f"cov_{a}_{b}")
            )
    have = {f"cov_{a}_{b}" for i, a in enumerate(cols) for b in cols[i:]}

    def corr(a: str, b: str):
        cov = (
            F.col(f"cov_{a}_{b}") if f"cov_{a}_{b}" in have else F.col(f"cov_{b}_{a}")
        )
        return F.round(
            cov / F.nullif(F.col(f"s_{a}") * F.col(f"s_{b}"), F.lit(0.0)), 4
        )

    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("dim_x"),
                F.lit(b).alias("dim_y"),
                corr(a, b).alias("corr"),
            )
            for a in cols
            for b in cols
        ]
    )
    return (
        scored.agg(*aggs)
        .select(F.explode(rows).alias("r"))
        .select("r.dim_x", "r.dim_y", "r.corr")
    )


def score_history(scored: DataFrame) -> DataFrame:
    """O3 — tinydb_repo.py:63 / app.py:330-345 / visualizations.py:181:
    per-source score history ordered by date, with a running mean (the
    dashboard's evolution line). The documents table carries no
    timestamp, so the report day is synthesized deterministically
    (doc_id % 30 days from a fixed epoch) — standing in for the results
    store's warc_ts/day partition column.

    Shape: one groupBy (source, day) with map-side combine, then a
    per-source ordered window over the (tiny) daily rollup — the window
    input is |sources| x |days| rows, not documents."""
    # ISO string, not DATE: engines render date columns with different
    # pandas dtypes (object date vs datetime64), which breaks value-hash
    # comparison; ISO strings also sort chronologically
    day = F.date_add(
        F.lit("2024-01-01").cast("date"),
        F.pmod(F.col("doc_id"), F.lit(30)).cast("int"),
    ).cast("string")
    daily = (
        scored.select("source", day.alias("day"), "total_score")
        .groupBy("source", "day")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("total_score"), 4).alias("avg_score"),
        )
    )
    # Running mean in EXACT integer arithmetic. Two cross-engine traps
    # hide here: (1) a windowed AVG over doubles is engine-dependent in
    # the last ulp (DuckDB windowed aggregates accumulate via a segment
    # tree — pairwise order — while Spark sums sequentially); (2) even on
    # a bit-identical double, round(x, 4) differs at true decimal ties —
    # Spark goes through BigDecimal.valueOf (shortest-repr, so 275.54675
    # half-ups to .5468) while DuckDB rounds the exact binary expansion
    # (275.546749.. -> .5467). So: sum the 4dp daily averages as integer
    # ten-thousandths (exact, order-free) and half-up round in INTEGER
    # arithmetic — floor((2s+n)/(2n)) via integer div — then divide by
    # 10000.0 once. Every step is exact until the final division, which
    # is a single correctly-rounded IEEE op in both engines.
    w = Window.partitionBy("source").orderBy("day")
    cents = F.round(F.col("avg_score") * 10000, 0).cast("long")
    return (
        daily.select(
            "source",
            "day",
            "n_docs",
            "avg_score",
            F.sum(cents).over(w).alias("_s"),
            F.count(F.lit(1)).over(w).alias("_n"),
        )
        .withColumn(
            "running_avg", F.expr("(2 * _s + _n) div (2 * _n)") / F.lit(10000.0)
        )
        .drop("_s", "_n")
    )


def union_keep_drop_extremes(scored: DataFrame) -> DataFrame:
    """U1 — validators.py:940,949 union-all analog: best and worst docs
    unioned with a provenance tag."""
    best = (
        scored.orderBy(F.desc("total_score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "total_score", F.lit("best").alias("bucket"))
    )
    worst = (
        scored.orderBy(F.asc("total_score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "total_score", F.lit("worst").alias("bucket"))
    )
    return best.unionByName(worst)


def asof_join(probes: DataFrame, updates: DataFrame) -> DataFrame:
    """Distributed as-of join: for each probe row, the latest update row
    of the same user_id with update.ts <= probe.ts (left semantics — probes
    with no prior update keep NULL match columns). The trades/quotes
    pattern; Spark has no native ASOF JOIN (DuckDB/Pandas do), so this
    is the union-tag formulation:

    tag updates 0 / probes 1, union, ONE shuffle on user_id, ONE
    sort-within-partitions on (ts, tag, id), then a running
    last(ignorenulls) window carries each update's columns forward to
    the probes that follow it. No range join, no per-probe subquery,
    no row explosion — the cost is the same single exchange a
    groupBy(user_id) pays, and updates at the exact probe timestamp win
    (tag 0 sorts first), matching ASOF's <= convention.

    ``probes``/``updates`` carry (user_id, ts, id, value); outputs
    probe id/ts plus asof_id, asof_ts, asof_value, gap_us.
    """
    up = updates.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("_tag"),
        F.col("id").alias("asof_id"),
        F.col("ts").alias("asof_ts"),
        F.col("value").alias("asof_value"),
        F.lit(None).cast("long").alias("probe_id"),
    )
    pr = probes.select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast("long").alias("asof_id"),
        # NTZ, matching the parquet ts type — a plain "timestamp" null
        # would coerce the whole union branch through a TZ cast
        F.lit(None).cast("timestamp_ntz").alias("asof_ts"),
        F.lit(None).cast("double").alias("asof_value"),
        F.col("id").alias("probe_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("_tag").asc(), F.col("asof_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = up.unionByName(pr).select(
        "user_id",
        "ts",
        "_tag",
        "probe_id",
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in ("asof_id", "asof_ts", "asof_value")
        ],
    )
    return carried.filter(F.col("_tag") == 1).select(
        "probe_id",
        "user_id",
        "ts",
        "asof_id",
        "asof_ts",
        "asof_value",
        # unix_micros needs TIMESTAMP; the NTZ->TIMESTAMP cast offset
        # cancels in the difference, so gap_us is TZ-independent
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("gap_us"),
    )


def purchase_asof_view(events: DataFrame) -> DataFrame:
    """Gate wiring for :func:`asof_join`: each purchase matched to the
    user's latest prior (or simultaneous) view event."""
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("id"), "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("id"), "value"
    )
    return asof_join(purchases, views)


def threshold_sweep(scored: DataFrame) -> DataFrame:
    """Keep-rate as a function of the total-score cutoff — the curve a
    curation run reads before choosing its filter threshold. ONE pass:
    a conditional sum per threshold inside a single global aggregate
    (map-side partials reduce each partition to |thresholds| counters);
    the long output shape is unpivoted from the 1-row aggregate with
    stack(), which is free. Never explodes rows by |thresholds|. The
    thresholds are 0, 25, .., 350."""
    thresholds = range(0, 351, 25)
    n = F.count("*")
    aggs = [n.alias("n_docs")] + [
        F.sum((F.col("total_score") >= t).cast("long")).alias(f"k{t}")
        for t in thresholds
    ]
    wide = scored.agg(*aggs)
    pairs = ", ".join(f"{t}, k{t}" for t in thresholds)
    return wide.select(
        F.expr(f"stack({len(thresholds)}, {pairs}) AS (threshold, n_keep)"),
        "n_docs",
    ).select(
        F.col("threshold").cast("int").alias("threshold"),
        "n_keep",
        F.round(F.col("n_keep") / F.col("n_docs"), 6).alias("keep_rate"),
    )


def source_lang_entropy(docs: DataFrame) -> DataFrame:
    """Per-source language-mix diversity: Shannon entropy (nats) of the
    language distribution, plus doc and distinct-language counts — the
    corpus-mix readout behind reweighting decisions. Two chained
    aggregations ((source, lang) then source), both with map-side
    partials; entropy is computed from counts, never from rates joined
    back (one exchange per level, no self-join)."""
    per = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    tot = per.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_langs"),
        F.sum(F.col("c") * F.log("c")).alias("_clogc"),
    )
    p_entropy = F.log("n_docs") - F.col("_clogc") / F.col("n_docs")
    return tot.select(
        "source",
        "n_docs",
        "n_langs",
        F.round(p_entropy, 6).alias("lang_entropy"),
    )


def range_join_bins(probes: DataFrame, points: DataFrame) -> DataFrame:
    """Key-free temporal range join: all (probe, point) pairs with
    |point.ts - probe.ts| <= W = 60 s. Spark plans a bare range
    predicate as BroadcastNestedLoop/CartesianProduct — O(n*m) and a
    broadcast of a whole table; this is the standard bin-bucketing
    rewrite instead:

    bin every point at floor(ts / W); explode each probe to the 2-3
    bins its +/-W interval can touch; equi-join on the bin; filter the
    exact predicate. A point lives in exactly ONE bin, so a pair can
    match only once — no dedup stage. The shuffle key is a dense int
    (time bin), the join is a real hash/sort-merge join, and hot time
    ranges are ordinary skew AQE can split. Cost: |points| + ~3|probes|
    shuffled rows, vs |points| x |probes| compared.

    Inputs carry (id, ts); output: probe_id, point_id, dt_us
    (point minus probe, negative = point earlier).
    """
    w_us = 60 * 1_000_000
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    pt = points.select(
        F.col("id").alias("point_id"),
        us(F.col("ts")).alias("point_us"),
        F.floor(us(F.col("ts")) / w_us).alias("bin"),
    )
    pr = probes.select(
        F.col("id").alias("probe_id"),
        us(F.col("ts")).alias("probe_us"),
        F.explode(
            F.sequence(
                F.floor((us(F.col("ts")) - w_us) / w_us),
                F.floor((us(F.col("ts")) + w_us) / w_us),
            )
        ).alias("bin"),
    )
    return (
        pr.join(pt, "bin")
        .filter(F.abs(F.col("point_us") - F.col("probe_us")) <= w_us)
        .select(
            "probe_id",
            "point_id",
            (F.col("point_us") - F.col("probe_us")).alias("dt_us"),
        )
    )


def errors_near_purchases(events: DataFrame) -> DataFrame:
    """Gate wiring for :func:`range_join_bins`: every error event within
    +/-60 s of any purchase, across ALL users (no equi key — the
    hard case)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("id"), "ts"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("id"), "ts"
    )
    return range_join_bins(purchases, errors)


def profile_flip_matrix(docs: DataFrame) -> DataFrame:
    """What adopting a different scoring profile would DO to the corpus:
    the 2x2 keep-flip matrix between two rule profiles (the reference
    ships two reporting profiles; its operators ask exactly this before
    switching, config.py:262-349). (true,false) is the newly-dropped
    mass, (false,true) the newly-admitted — the two numbers a profile
    migration is approved on.

    Plan shape: the second scoring CHAIN runs over the first's output
    frame, so both profiles ride ONE scan as consecutive map-only staged
    projections — no self-join on doc_id (the naive two-frames-joined
    formulation shuffles the corpus twice; the oracle states that join
    form, the plan never pays it).

    Columns: keep_a, keep_b, n_docs."""
    carry = [c for c in docs.columns]
    a = apply_quality(docs, meta_cols=DOC_META, profile="webtext_native")
    a2 = a.select(*carry, F.col("keep").alias("keep_a"))
    b = apply_quality(a2, meta_cols=DOC_META, profile="webtext_nti_native")
    return (
        b.select("keep_a", F.col("keep").alias("keep_b"))
        .groupBy("keep_a", "keep_b")
        .agg(F.count("*").alias("n_docs"))
    )


def rule_ablation(docs: DataFrame) -> DataFrame:
    """Per-rule ablation of the keep decision: for EVERY rule, how many
    documents would be newly admitted / newly dropped if that rule were
    removed from the profile (points and hard-gate membership both) —
    the readout that tells an operator which rule actually carries the
    filter and which is dead weight, computed for all rules in ONE scan
    (per-rule conditional aggregates over one staged pct projection; the
    naive formulation re-scores the corpus once per rule).

    Removing a rule can flip keep in BOTH directions: ON when a failing
    HARD rule leaves the gate, OFF when a passing rule's points carried
    a dimension over the threshold.

    Columns: rule_id, n_keep_base, n_keep_without, n_admitted,
    n_dropped."""
    from metadata_quality_stack_spark.operators.rules import (
        score_columns,
        scoring_stages,
    )

    rules = config.RULES_BY_PROFILE["webtext_native"]
    staged = scoring_stages(docs, "text", DOC_META, "webtext_native")
    pcts = {r["id"]: F.col(f"pct_{r['id']}") for r in rules}
    base = score_columns(pcts, "webtext_native")["keep"]
    aggs = [F.coalesce(F.sum(base.cast("long")), F.lit(0)).alias("_kb")]
    for r in rules:
        kw = score_columns(pcts, "webtext_native", exclude=r["id"])["keep"]
        aggs += [
            F.coalesce(F.sum(kw.cast("long")), F.lit(0)).alias(f"_kw_{r['id']}"),
            F.coalesce(F.sum((kw & ~base).cast("long")), F.lit(0)).alias(
                f"_adm_{r['id']}"
            ),
            F.coalesce(F.sum((~kw & base).cast("long")), F.lit(0)).alias(
                f"_dro_{r['id']}"
            ),
        ]
    wide = staged.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(r["id"]).alias("rule_id"),
                F.col("_kb").alias("n_keep_base"),
                F.col(f"_kw_{r['id']}").alias("n_keep_without"),
                F.col(f"_adm_{r['id']}").alias("n_admitted"),
                F.col(f"_dro_{r['id']}").alias("n_dropped"),
            )
            for r in rules
        ]
    )
    return wide.select(F.explode(rows).alias("x")).select("x.*")


def rule_ablation_sql() -> str:
    from metadata_quality_stack_spark.oracle import sqlgen

    rules = config.RULES_BY_PROFILE["webtext_native"]

    def keep_expr(exclude: str | None) -> str:
        rs = [r for r in rules if r["id"] != exclude]
        dim_terms: dict[str, list[str]] = {}
        for r in rs:
            dim_terms.setdefault(r["dimension"], []).append(
                f"pct_{r['id']} * {float(r['weight'])!r}"
            )
        # same dimension order AND same left-assoc rule order as
        # rules.score_columns, so the float sums are bit-identical
        total = " + ".join(
            sqlgen.bankers_int(" + ".join(dim_terms.get(d, ["0.0"])))
            for d in config.DIMENSIONS
        )
        ids = {r["id"] for r in rs}
        hard = " AND ".join(
            f"pct_{rid} >= 0.5" for rid in config.HARD_RULES if rid in ids
        ) or "TRUE"
        t = config.thresholds_for("webtext_native")
        return f"((({total}) >= {t['sufficient']}) AND {hard})"

    kb = keep_expr(None)
    kw_cols = ",\n    ".join(
        f"{keep_expr(r['id'])} AS kw_{r['id']}" for r in rules
    )
    agg_cols = ", ".join(
        f"coalesce(sum(kw_{r['id']}::BIGINT), 0)::BIGINT AS kw_{r['id']}, "
        f"coalesce(sum((kw_{r['id']} AND NOT kb)::BIGINT), 0)::BIGINT "
        f"AS adm_{r['id']}, "
        f"coalesce(sum((NOT kw_{r['id']} AND kb)::BIGINT), 0)::BIGINT "
        f"AS dro_{r['id']}"
        for r in rules
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT '{r['id']}' AS rule_id, kb AS n_keep_base, "
        f"kw_{r['id']} AS n_keep_without, adm_{r['id']} AS n_admitted, "
        f"dro_{r['id']} AS n_dropped FROM w"
        for r in rules
    )
    return f"""{sqlgen.pct_with_clause()},
f AS (SELECT {kb} AS kb,
    {kw_cols}
  FROM pct),
w AS (SELECT coalesce(sum(kb::BIGINT), 0)::BIGINT AS kb, {agg_cols} FROM f)
{unions}
"""


def quality_by_crawl_day(docs: DataFrame, ts_expr: str) -> DataFrame:
    """Per-crawl-day quality drift — the monitoring readout that
    catches a crawler regression (a bad extraction deploy, a spam wave)
    by DAY before it poisons a training mix. ``ts_expr`` is a SQL
    expression yielding capture time as epoch seconds (the job wires
    warc_ts; gates use the synthetic deterministic timestamp).

    One scan: scoring is map-only staged projections, then a single
    bounded-key agg on the day. All-integer outputs (ppm/micros) so the
    readout hash-matches the oracle.

    Columns: day, n_docs, keep_ppm, score_avg_micros, score_min,
    score_max."""
    scored = scored_documents(docs).withColumn(
        "day", F.expr(f"({ts_expr}) div 86400")
    )
    return scored.groupBy("day").agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(CAST(keep AS BIGINT)) * 1000000 div count(*)")
        .cast("long")
        .alias("keep_ppm"),
        F.expr("sum(CAST(total_score AS BIGINT)) * 1000000 div count(*)")
        .cast("long")
        .alias("score_avg_micros"),
        F.min("total_score").cast("long").alias("score_min"),
        F.max("total_score").cast("long").alias("score_max"),
    )


def corpus_datasheet(docs: DataFrame) -> DataFrame:
    """One-row release datasheet (Gebru et al. 2018, "Datasheets for
    Datasets", arXiv:1803.09010): the corpus-level numbers a dataset
    card states — size, exact-duplicate rate, keep rate, token volume,
    source/language breadth — in ONE scan + one global aggregate.

    All-integer outputs (counts / ppm / micros, the quality_by_crawl_day
    discipline) so the row hash-matches the oracle. The three exact
    COUNT(DISTINCT) aggregates share the single Expand the planner
    emits; rows entering it are the slim projection (ids, hashes, token
    counts), never text.

    Columns: n_docs, n_unique_docs, dup_ppm, keep_ppm,
    score_avg_micros, total_tokens, tokens_per_doc_micros, n_sources,
    n_langs."""
    scored = scored_documents(docs)
    base = scored.select(
        "doc_id",
        "source",
        "lang",
        "total_score",
        "keep",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fp"),
        F.size(token_array(F.col("text"))).cast("long").alias("n_tok"),
    )
    return base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique_docs"),
        F.expr("(count(*) - count(DISTINCT fp)) * 1000000 div count(*)")
        .cast("long")
        .alias("dup_ppm"),
        F.expr("sum(CAST(keep AS BIGINT)) * 1000000 div count(*)")
        .cast("long")
        .alias("keep_ppm"),
        F.expr("sum(CAST(total_score AS BIGINT)) * 1000000 div count(*)")
        .cast("long")
        .alias("score_avg_micros"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.expr("sum(n_tok) * 1000000 div count(*)")
        .cast("long")
        .alias("tokens_per_doc_micros"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
    )


def corpus_datasheet_sql() -> str:
    from metadata_quality_stack_spark.oracle import sqlgen

    toks = token_array_sql("d.text")
    return f"""
WITH scored AS ({sqlgen.native_scoring_sql(extra_cols=("source", "lang"))}),
j AS (SELECT s.doc_id, s.source, s.lang, s.total_score, s.keep,
        md5(d.text) AS fp,
        CAST(len({toks}) AS BIGINT) AS n_tok
      FROM scored s JOIN documents d USING (doc_id))
SELECT count(*)::BIGINT AS n_docs,
  count(DISTINCT fp)::BIGINT AS n_unique_docs,
  ((count(*) - count(DISTINCT fp)) * 1000000 // count(*))::BIGINT AS dup_ppm,
  (sum(keep::BIGINT) * 1000000 // count(*))::BIGINT AS keep_ppm,
  (sum(total_score::BIGINT) * 1000000 // count(*))::BIGINT
    AS score_avg_micros,
  sum(n_tok)::BIGINT AS total_tokens,
  (sum(n_tok) * 1000000 // count(*))::BIGINT AS tokens_per_doc_micros,
  count(DISTINCT source)::BIGINT AS n_sources,
  count(DISTINCT lang)::BIGINT AS n_langs
FROM j
"""


def quality_by_crawl_day_sql(ts_expr: str) -> str:
    from metadata_quality_stack_spark.oracle import sqlgen

    return f"""
WITH scored AS ({sqlgen.native_scoring_sql()}),
t AS (SELECT s.*, (({ts_expr}) // 86400) AS day
      FROM scored s JOIN documents d USING (doc_id))
SELECT day, count(*)::BIGINT AS n_docs,
  (sum(keep::BIGINT) * 1000000 // count(*))::BIGINT AS keep_ppm,
  (sum(total_score::BIGINT) * 1000000 // count(*))::BIGINT
    AS score_avg_micros,
  min(total_score)::BIGINT AS score_min,
  max(total_score)::BIGINT AS score_max
FROM t GROUP BY day
"""
