"""Rule compiler: rules-as-data -> one wide select of Column expressions.

The Spark analog of the reference's metric loop (validators.py:878-974) —
but single-pass: every rule's (count, population) is a conditional
expression over shared feature columns; Catalyst's CollapseProject folds
the whole thing into one projection with common-subexpression reuse.

Scoring semantics (exact, see SURVEY.md §4.3):
  percentage = count/population, 0 when population == 0  (validators.py:957)
  points     = percentage * weight                        (validators.py:958)
  dimension  = HALF_EVEN round of sum(points)             (validators.py:994-1002)
  total      = sum(dimension scores)                      (validators.py:770)
  rating     = >=351 Excellent >=221 Good >=121 Sufficient else Bad
                                                          (validators.py:1006-1027)
  keep       = rating != 'Bad'

HALF_EVEN is implemented manually (floor-based tie-to-even) instead of
``F.bround`` so the exact same double arithmetic runs in Spark, DuckDB
(oracle/sqlgen.py) and the pandas oracle — bit-identical on IEEE doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark import config
from metadata_quality_stack_spark.functions.text import (
    feature_columns,
    lower_column,
    safe_div,
    token_columns,
)
from metadata_quality_stack_spark.session import jvm_cached


def _as_pct(cond: Column) -> Column:
    """Binary rule -> percentage in {0.0, 1.0}."""
    return F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))


def native_rule_percentages(
    feats: dict[str, Column], meta: dict[str, Column | None]
) -> dict[str, Column]:
    """Percentage column per native (non-model) rule id.

    ``meta`` may supply 'lang', 'source', 'n_chars' columns; a missing
    metadata column makes its presence-rule vacuously pass (population
    matches the reference's routing quirk where an inapplicable checker
    scores trivially, SURVEY.md §2.5 note).
    """
    c = config
    # nullif denominators: ANSI-safe (Spark 4 raises DIVIDE_BY_ZERO even for
    # doubles); a NULL ratio makes the surrounding comparison NULL, which
    # F.when treats as false -> rule fails, matching the reference's
    # degrade-to-zero error path (validators.py:953-955)
    wc = F.nullif(feats["n_words"].cast("double"), F.lit(0.0))
    nch = F.nullif(feats["n_chars_txt"].cast("double"), F.lit(0.0))
    nln = F.nullif(feats["n_lines"].cast("double"), F.lit(0.0))

    def present(col: Column | None) -> Column:
        if col is None:
            return F.lit(1.0)
        return _as_pct(col.isNotNull() & (col.cast("string") != F.lit("")))

    mwl = feats["sum_word_len"].cast("double") / wc  # null-safe via wc>0 guard below
    pct: dict[str, Column] = {
        "word_count": _as_pct(
            (feats["n_words"] >= c.MIN_WORDS) & (feats["n_words"] <= c.MAX_WORDS)
        ),
        "mean_word_length": _as_pct(
            (feats["n_words"] > 0)
            & (mwl >= c.MIN_MEAN_WORD_LEN)
            & (mwl <= c.MAX_MEAN_WORD_LEN)
        ),
        "alpha_ratio": safe_div(feats["n_alpha"], feats["n_chars_txt"]),
        "ascii_ratio": safe_div(feats["n_ascii"], feats["n_chars_txt"]),
        "line_uniqueness": safe_div(feats["n_distinct_raw_lines"], feats["n_raw_lines"]),
        "terminal_punct": safe_div(feats["n_terminal_punct_lines"], feats["n_lines"]),
        "ellipsis_free": safe_div(feats["n_lines"] - feats["n_ellipsis_lines"], feats["n_lines"]),
        "boilerplate_free": _as_pct(~feats["has_boilerplate"]),
        "stopword_density": _as_pct(
            (feats["n_distinct_words"] > 0)
            & (
                feats["n_stop_distinct"].cast("double")
                / F.nullif(feats["n_distinct_words"].cast("double"), F.lit(0.0))
                >= c.MIN_STOPWORD_DENSITY
            )
        ),
        "stopword_distinct": _as_pct(
            feats["n_stop_distinct"] >= c.MIN_DISTINCT_STOPWORDS
        ),
        "symbol_ratio": _as_pct(
            (feats["n_words"] > 0)
            & (feats["n_symbols"].cast("double") / wc <= c.MAX_SYMBOL_WORD_RATIO)
        ),
        "bullet_free": safe_div(feats["n_lines"] - feats["n_bullet_lines"], feats["n_lines"]),
        "word_diversity": safe_div(feats["n_distinct_words"], feats["n_words"]),
        "digit_ratio": _as_pct(
            (feats["n_chars_txt"] > 0)
            & (feats["n_digit"].cast("double") / nch <= c.MAX_DIGIT_RATIO)
        ),
        "pii_email_free": _as_pct(~feats["has_email"]),
        "pii_phone_free": _as_pct(~feats["has_phone"]),
        "whitespace_ratio": _as_pct(
            (feats["n_chars_txt"] > 0)
            & (feats["n_ws"].cast("double") / nch <= c.MAX_WHITESPACE_RATIO)
        ),
        "pii_ip_free": _as_pct(~feats["has_ip"]),
        "chars_consistent": (
            F.lit(1.0)
            if meta.get("n_chars") is None
            else _as_pct(meta["n_chars"] == feats["n_chars_txt"])
        ),
        "lang_present": present(meta.get("lang")),
        "source_present": present(meta.get("source")),
        "avg_line_len": _as_pct(
            (feats["n_lines"] > 0) & (nch / nln <= c.MAX_AVG_LINE_LEN)
        ),
    }
    return pct


def model_rule_percentages(
    lang_col: Column | None,
    langid_pred: Column,
    langid_conf: Column,
    ppl: Column,
) -> dict[str, Column]:
    """Percentages for the pandas-UDF-backed model rules (the checker
    plugin slot, validators.py:74-90)."""
    match = (
        F.lit(0.0)
        if lang_col is None
        else _as_pct(lang_col.isNotNull() & (langid_pred == lang_col))
    )
    return {
        "langid_match": match,
        "langid_confidence": F.least(F.greatest(langid_conf, F.lit(0.0)), F.lit(1.0)),
        "perplexity_ok": _as_pct(ppl <= config.PERPLEXITY_MAX),
    }


def half_even_int(x: Column) -> Column:
    """HALF_EVEN round-to-int on non-negative doubles, floor-based so the
    identical arithmetic is expressible in DuckDB SQL and numpy."""
    fl = F.floor(x)
    tie = (x - fl) == F.lit(0.5)
    return (
        F.when(tie, fl + (fl.cast("long") % 2)).otherwise(F.floor(x + F.lit(0.5)))
    ).cast("int")


def score_columns(
    pcts: dict[str, Column], profile: str, exclude: str | None = None
) -> dict[str, Column]:
    """points per rule -> dimension scores -> total -> rating -> keep.

    ``exclude`` drops one rule from the profile entirely (its points AND
    its hard-gate membership) — the ablation question 'what would keep
    look like without rule X', used by analytics.rule_ablation. Rule
    order (hence float-sum association order) is preserved, so excluded
    recomputation stays bit-identical to the SQL mirror."""
    rules = [
        r for r in config.RULES_BY_PROFILE[profile] if r["id"] != exclude
    ]
    out: dict[str, Column] = {}
    dim_sum: dict[str, Column] = {}
    for r in rules:
        pts = pcts[r["id"]] * F.lit(float(r["weight"]))
        out[f"pts_{r['id']}"] = pts
        dim_sum[r["dimension"]] = (
            pts if r["dimension"] not in dim_sum else dim_sum[r["dimension"]] + pts
        )
    total: Column | None = None
    for d in config.DIMENSIONS:
        dim_col = half_even_int(dim_sum.get(d, F.lit(0.0)))
        out[d] = dim_col
        total = dim_col if total is None else total + dim_col
    out["total_score"] = total.cast("int")
    t = config.thresholds_for(profile)
    out["rating"] = (
        F.when(out["total_score"] >= t["excellent"], "Excellent")
        .when(out["total_score"] >= t["good"], "Good")
        .when(out["total_score"] >= t["sufficient"], "Sufficient")
        .otherwise("Bad")
    )
    rule_ids = {r["id"] for r in rules}
    hard_ok = F.lit(True)
    for rid in config.HARD_RULES:
        if rid in rule_ids:
            hard_ok = hard_ok & (pcts[rid] >= F.lit(0.5))
    out["keep"] = (out["total_score"] >= F.lit(t["sufficient"])) & hard_ok
    return out


def drop_reasons(pcts: dict[str, Column], profile: str) -> Column:
    """Array of rule ids with percentage < 0.5, in rule-table order."""
    rules = config.RULES_BY_PROFILE[profile]
    pairs = [F.when(pcts[r["id"]] < 0.5, F.lit(r["id"])) for r in rules]
    return F.array_compact(F.array(*pairs))


CSE_GUARD = "_cse_guard"
# columns of quality_pipeline's model stage that the model rules read
MODEL_COLS = ("lang_pred", "lang_conf", "ppl")
# what final_scores appends to its carry columns, in output order
SCORE_COLS = (*config.DIMENSIONS, "total_score", "rating", "keep", "drop_reasons")


def stage_select(carry, cols: dict[str, Column]) -> tuple[Column, ...]:
    """The select-list of :func:`stage`: ``carry`` names, ``cols`` under
    their keys, then the guard column."""
    return (
        *[F.col(c) for c in carry],
        *[v.alias(k) for k, v in cols.items()],
        F.rand(42).alias(CSE_GUARD),
    )


def stage(df: DataFrame, carry: list[str], cols: dict[str, Column]) -> DataFrame:
    """Materialize ``cols`` as a separate projection that CollapseProject
    will NOT inline into consumers (non-deterministic guard column).

    Why: Spark's whole-stage-codegen subexpression elimination skips
    expressions under conditional branches (and all lambda expressions),
    so a collapsed mega-projection re-evaluates shared feature trees per
    reference (measured 3-5x slowdown). Staged projections chain inside
    ONE codegen stage — intermediates become local variables, computed
    once per row, with no shuffle and no caching.

    ``stage`` itself takes live Columns and builds every call. The
    scoring stages are built by :func:`scoring_selects` and
    :func:`final_select` instead, which cache their select-lists per
    process (``session.jvm_cached``: keyed on the argument names and the
    py4j gateway), so a repeat call only folds ``df.select`` over them.
    """
    return df.select(*stage_select(carry, cols))


@jvm_cached()
def scoring_selects(
    carry: tuple[str, ...],
    text_col: str,
    meta_cols: tuple[tuple[str, str | None], ...],
    profile: str,
    rule_ids: frozenset[str] | None,
) -> tuple[tuple[Column, ...], ...]:
    """The select-lists of :func:`scoring_stages`, from names only."""
    meta = {k: (F.col(v) if v else None) for k, v in meta_cols}
    # stage 0a: lower once; stage 0b: tokenize the lowered text ONCE
    # (raw tokens are never materialized — word_count is array-free);
    # stage 1: all scalar features over text + the materialized arrays.
    # All three stay inside one WholeStageCodegen span (no HOFs anywhere).
    lowered = stage_select(carry, lower_column(F.col(text_col)))
    toked = stage_select(
        [*carry, "_low_text"],
        token_columns(F.col(text_col), F.col("_low_text")),
    )
    feats = feature_columns(
        F.col(text_col),
        lows=F.col("_lows"),
        low_text=F.col("_low_text"),
    )
    staged = stage_select(carry, feats)
    rules = config.RULES_BY_PROFILE[profile]
    if rule_ids is not None:
        rules = [r for r in rules if r["id"] in rule_ids]
    pcts = native_rule_percentages({k: F.col(k) for k in feats}, meta)
    if any(r["kind"] == "model" for r in rules):
        pcts.update(
            model_rule_percentages(meta.get("lang"), *[F.col(c) for c in MODEL_COLS])
        )
    pct_stage = stage_select(carry, {f"pct_{r['id']}": pcts[r["id"]] for r in rules})
    return lowered, toked, staged, pct_stage


def scoring_stages(
    df: DataFrame,
    text_col: str,
    meta_cols: dict[str, str | None],
    profile: str,
    rule_ids=None,
) -> DataFrame:
    """feats -> pcts staged projections; returns df carrying pct_<rule>
    columns for every rule of ``profile``. Model rules read the
    ``MODEL_COLS`` that quality_pipeline's model stage adds.
    ``rule_ids`` restricts the projected pct columns to a subset of the
    profile's rules — callers whose model pcts come from elsewhere (the
    micro pipeline) stage the native pcts here and attach their own
    model pcts after. The select-lists are cached
    (:func:`scoring_selects`)."""
    plan = scoring_selects(
        tuple(df.columns),
        text_col,
        tuple(sorted(meta_cols.items())),
        profile,
        None if rule_ids is None else frozenset(rule_ids),
    )
    for cols in plan:
        df = df.select(*cols)
    return df


@jvm_cached()
def final_select(
    carry: tuple[str, ...], profile: str, keep_pcts: bool
) -> tuple[Column, ...]:
    """The select-list of :func:`final_scores`, from names only."""
    rules = config.RULES_BY_PROFILE[profile]
    pcts = {r["id"]: F.col(f"pct_{r['id']}") for r in rules}
    scores = score_columns(pcts, profile)
    cols = [F.col(c) for c in carry]
    if keep_pcts:
        cols += [pcts[r["id"]].alias(f"pct_{r['id']}") for r in rules]
    scores["drop_reasons"] = drop_reasons(pcts, profile)
    cols += [scores[c].alias(c) for c in SCORE_COLS]
    return tuple(cols)


def final_scores(
    df: DataFrame, carry: list[str], profile: str, keep_pcts: bool = False
) -> DataFrame:
    """Rollup projection over materialized pct_* attribute columns; the
    select-list is cached (:func:`final_select`)."""
    return df.select(*final_select(tuple(carry), profile, keep_pcts))


_BARRIER_SEQ = 0


def filter_scored(df: DataFrame, cond: Column) -> DataFrame:
    """Filter on scored attribute columns WITHOUT predicate pushdown.

    Spark 4's predicate pushdown substitutes a deterministic condition
    straight through the staged scoring projections (the CSE guard column
    is pruned as unreferenced, and any always-true ``rand`` wrapper is
    range-folded away) — so ``scored.filter("keep")`` re-inlines the
    ENTIRE scoring expression tree at the scan: the condition grows to
    ~36 KB of expression, the fused stage overflows Janino's 64 KB method
    limit (the whole stage drops to interpreted eval), and every rule is
    computed twice (once in the pushed filter, again in the projections
    above).

    The fix is an ``observe`` (CollectMetrics) barrier: predicates may not
    move across it — that would change the observed counts — so the filter
    stays put and reads the already-materialized attribute once. The
    metric is genuinely useful: it counts pre-filter rows (query it via
    ``df.observation`` / ``QueryExecutionListener``)."""
    global _BARRIER_SEQ
    _BARRIER_SEQ += 1
    n_rows = F.count(F.lit(1)).alias("n_rows")
    return df.observe(f"pre_filter_{_BARRIER_SEQ}", n_rows).filter(cond)


def metric_report(df: DataFrame, meta_cols: dict[str, str] | None = None) -> DataFrame:
    """Per-document per-METRIC breakdown — the reference's ``metrics[]``
    report array (src/api/models.py:31-42: id/count/population/percentage/
    points/weight per metric), long-format: one row per (doc, rule).

    This is the "why was this document dropped" debugging surface: every
    rule's percentage and earned points, not just the dimension rollup —
    plus the reading-UX metadata the reference report carries per metric:
    bilingual labels (validators.py:968-969) and severity (the
    sh:severity census; violation = hard-fail rule, warning = points
    only). Map-only (scoring stages + explode of a literal-keyed struct
    array); output rows = n_docs * n_rules."""
    rules = config.RULES_BY_PROFILE["webtext_native"]
    with_pcts = scoring_stages(df, "text", meta_cols or {}, "webtext_native")
    entries = F.array(
        *[
            F.struct(
                F.lit(r["id"]).alias("metric"),
                F.lit(r["dimension"]).alias("dimension"),
                F.lit(int(r["weight"])).cast("int").alias("weight"),
                F.round(F.col(f"pct_{r['id']}"), 6).alias("pct"),
                F.round(
                    F.col(f"pct_{r['id']}") * F.lit(float(r["weight"])), 4
                ).alias("points"),
                F.lit(config.labels_for(r["id"])[0]).alias("label_en"),
                F.lit(config.labels_for(r["id"])[1]).alias("label_es"),
                F.lit(config.severity_for(r["id"])).alias("severity"),
            )
            for r in rules
        ]
    )
    return with_pcts.select(F.col("doc_id"), F.explode(entries).alias("m")).select(
        "doc_id", "m.metric", "m.dimension", "m.weight", "m.pct", "m.points",
        "m.label_en", "m.label_es", "m.severity",
    )


def apply_quality(
    df: DataFrame,
    meta_cols: dict[str, str] | None = None,
    profile: str = "webtext_native",
    keep_pcts: bool = False,
) -> DataFrame:
    """Attach native-rule scoring columns to ``df`` (staged projections,
    one codegen stage, map-only).

    For full profiles (model rules included) use
    plans.pipeline.quality_pipeline, which wires the pandas-UDF scorers
    in front of this rollup.
    """
    if any(r["kind"] == "model" for r in config.RULES_BY_PROFILE[profile]):
        raise ValueError("apply_quality only compiles native profiles; "
                         "use plans.pipeline.quality_pipeline for model rules")
    carry = list(df.columns)
    with_pcts = scoring_stages(df, "text", meta_cols or {}, profile)
    return final_scores(with_pcts, carry, profile, keep_pcts=keep_pcts)
