"""The full quality-filter pipeline (north rule §3.4 target lifecycle):

    read pages -> model scorers (langid + perplexity, one fused Arrow UDF)
    -> native heuristic rules (staged projections) -> weighted rollup
    -> rating -> keep/drop + drop_reasons -> PII scrub (+ toxicity mask)
    -> results + per-partition metrics

Plan shape at 100 TB: the whole per-document stage is map-only (scan ->
project -> one Arrow UDF stage -> project); zero shuffles. The metrics
sidecar is one aggregation over the written table (one scan, one small
shuffle), folded in Python. Filters on e.g. ``lang`` push down to the
parquet/Iceberg scan; the ``html`` column is never read unless text
extraction is requested (column pruning).

Every select-list of the pipeline is built once per process and reused
(:func:`pipeline_selects`, ``session.jvm_cached``), so a call costs a
few py4j round trips per projection instead of ~6,400 for rebuilding
the ~1,300-node expression tree.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.scrub import scrub_columns, toxicity_columns
from metadata_quality_stack_spark.operators.rules import (
    MODEL_COLS,
    SCORE_COLS,
    final_select,
    scoring_selects,
    stage_select,
)
from metadata_quality_stack_spark.session import jvm_cached
from metadata_quality_stack_spark.sources.sink import reason_rollup


def model_scores_udf():
    """Fused langid + perplexity scorer: one Arrow transfer of the text,
    one python worker chain, struct(lang_pred, lang_conf, ppl) out.
    Iterator form — both models build once per worker process."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("lang_pred string, lang_conf double, ppl double")
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from metadata_quality_stack_spark.functions.langid import (
            get_model as get_langid,
        )
        from metadata_quality_stack_spark.functions.perplexity import (
            get_model as get_ppl,
        )

        lid, ppl = get_langid(), get_ppl()
        for texts in it:
            out = lid.score_batch(texts)
            out["ppl"] = ppl.score_batch(texts)
            yield out

    return _udf


@jvm_cached(per_context=True)
def model_scores_column(text_col: str) -> Column:
    """``model_scores_udf()`` applied to ``text_col``, aliased ``_m``.
    Cached per live SparkContext: the wrapped Python function binds that
    context's accumulator."""
    return model_scores_udf()(F.col(text_col)).alias("_m")


@jvm_cached()
def pipeline_selects(
    columns: tuple[str, ...],
    text_col: str,
    id_cols: tuple[str, ...],
    lang_col: str | None,
    source_col: str | None,
    n_chars_col: str | None,
    profile: str,
    include_text: bool,
    toxic_terms: tuple[str, ...],
) -> tuple[tuple, tuple, tuple]:
    """:func:`quality_pipeline`'s select-lists, from names only:
    ``(before, model_carry, after)``. ``before`` extracts the text when
    only ``html`` is there; the model stage selects ``model_carry`` plus
    :func:`model_scores_column`; ``after`` holds the rest in order."""
    before = ()
    if text_col not in columns and "html" in columns:
        from metadata_quality_stack_spark.sources.pages import extract_text_column

        before = ((
            *[F.col(c) for c in columns if c != "html"],
            extract_text_column(F.col("html")).alias(text_col),
        ),)
    needed = [*id_cols, *(c for c in (lang_col, source_col, n_chars_col) if c), text_col]
    model_carry = tuple(F.col(c) for c in needed)

    # Stage 1 — model scorers (the only Python in the plan; Arrow-batched,
    # iterator-form so weights build once per worker). Both models run in
    # ONE fused UDF: the document text crosses the JVM<->Python Arrow pipe
    # once, not once per model — at 100 TB the text transfer IS the cost
    # of this stage. The struct result is materialized once then
    # field-extracted, so the UDF executes once per row.
    fields = (*model_carry, *[F.col(f"_m.{c}").alias(c) for c in MODEL_COLS])

    # Stages 2-3 — features then rule percentages (model rules included),
    # as staged projections (codegen locals: each feature computed once
    # per row; see rules.stage)
    meta_cols = {"lang": lang_col, "source": source_col, "n_chars": n_chars_col}
    scoring = scoring_selects(
        (*needed, *MODEL_COLS), text_col, tuple(sorted(meta_cols.items())), profile, None
    )

    # Stage 4 — rollup, then the scrub in the final projection
    carry = [*id_cols, *([lang_col] if lang_col else []), *MODEL_COLS, text_col]
    rollup = final_select(tuple(carry), profile, False)
    scrub = scrub_columns(F.col(text_col))
    counts = ("scrub_count", "scrub_email_count", "scrub_ip_count", "scrub_phone_count")
    base = [c for c in (*carry, *SCORE_COLS) if c != text_col]
    out = [*(F.col(c) for c in base), *(scrub[c].alias(c) for c in counts)]
    base += counts
    if include_text or toxic_terms:
        out.append(scrub["scrubbed_text"].alias("scrubbed_text"))
    after = [fields, *scoring, rollup, tuple(out)]
    if toxic_terms:
        # Toxicity masking (north rule: PII/toxicity scrub) runs AFTER the
        # PII chain, on the scrubbed text. The stage() barrier keeps
        # CollapseProject from inlining the whole scrub when-chain into the
        # three toxicity references — scrubbed text is computed once.
        tox = toxicity_columns(F.col("_scrubbed"), list(toxic_terms))
        final = [F.col(c) for c in base] + [tox["tox_count"].alias("tox_count")]
        if include_text:
            final.append(tox["detoxed_text"].alias("scrubbed_text"))
        after += [stage_select(base, {"_scrubbed": F.col("scrubbed_text")}), tuple(final)]
    return before, model_carry, tuple(after)


def quality_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("url",),
    lang_col: str | None = "lang",
    source_col: str | None = None,
    n_chars_col: str | None = None,
    profile: str = "webtext",
    include_text: bool = True,
    toxic_terms: list[str] | None = None,
) -> DataFrame:
    """Score + scrub every document. Returns one row per input row with:
    id cols, scrubbed_text (+scrub counts), dimension scores, total_score,
    rating, keep, drop_reasons, lang_pred, lang_conf, ppl.

    If ``text_col`` is absent but an ``html`` binary column exists, text is
    extracted first via the native byte-identical extractor
    (sources.pages.extract_text_column) — still map-only, still codegen.

    The plan is a fold of ``df.select`` over cached select-lists. They
    are keyed on ``df.columns`` and the other arguments plus the py4j
    gateway (:func:`pipeline_selects`); the model UDF Column is keyed on
    ``text_col`` and the live SparkContext (:func:`model_scores_column`)."""
    before, model_carry, after = pipeline_selects(
        tuple(df.columns), text_col, tuple(id_cols), lang_col, source_col,
        n_chars_col, profile, include_text, tuple(toxic_terms or ()),
    )
    for cols in before:
        df = df.select(*cols)
    df = df.select(*model_carry, model_scores_column(text_col))
    for cols in after:
        df = df.select(*cols)
    return df


def partition_metrics(result: DataFrame | None) -> dict:
    """The per-partition metrics sidecar (north rule), JSON-ready:
    ``lang_histogram``, ``rating_histogram`` and ``drop_reasons`` as
    lists of ``{key, n_docs}`` rows (a null key stays a row) and
    ``scrub_totals`` as one row. One scan of ``result`` and one small
    shuffle (:func:`sources.sink.reason_rollup` over lang x rating); the
    at most langs x ratings x reasons groups fold in Python. ``None``
    stands for a table no page reached (no bucket dir was written)."""
    scrub = {
        "scrub_email_count": "emails_scrubbed",
        "scrub_ip_count": "ips_scrubbed",
        "scrub_phone_count": "phones_scrubbed",
    }
    rows = [] if result is None else reason_rollup(result, ["lang_pred", "rating"], list(scrub))
    langs, ratings, reasons = Counter(), Counter(), Counter()
    totals = dict.fromkeys([*scrub.values(), "docs_kept", "docs_total"], 0)
    for r in rows:
        langs[r["lang_pred"]] += r["docs"]
        ratings[r["rating"]] += r["docs"]
        reasons[r["reason"]] += r["reason_n"]
        totals["docs_kept"] += r["kept"]
        totals["docs_total"] += r["docs"]
        for c, name in scrub.items():
            totals[name] += r[c] or 0

    def hist(key: str, counts: Counter) -> list[dict]:
        keys = sorted((k for k, n in counts.items() if n), key=lambda k: (k is not None, k))
        return [{key: k, "n_docs": counts[k]} for k in keys]

    return {
        "lang_histogram": hist("lang_pred", langs),
        "rating_histogram": hist("rating", ratings),
        "drop_reasons": hist("reason", reasons),
        "scrub_totals": totals,
    }


def salted_repartition(
    df: DataFrame, n_partitions: int, domain_col: str, fine_col: str, n_salts: int = 16
) -> DataFrame:
    """Skew handling for domain-heavy crawl shards (north rule): compose a
    salt from the high-cardinality column so one hot domain spreads over
    ``n_salts`` partitions instead of one."""
    salt = F.pmod(F.xxhash64(F.col(fine_col)), F.lit(n_salts))
    return df.repartition(n_partitions, F.col(domain_col), salt)
