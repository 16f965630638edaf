"""Gopher-style per-document repetition suite (Rae et al. 2021, public —
arXiv:2112.11446 Table A1), the full signal family used by web-scale
quality filters to drop boilerplate/spam:

* duplicate line / paragraph fraction (occurrences beyond the first),
* duplicate line / paragraph CHARACTER fraction,
* top n-gram character fraction for n = 2, 3, 4,
* duplicate n-gram character fraction for n = 5..10.

The reference repo has no counterpart (its repetition analog is the
per-record accessibility checkers in ``src/api/validators.py``); this is
part of the beyond-reference training-data family next to
``textops.repetition_stats`` (which keeps only the top-bigram readout).

Scale shape (the 100 TB story): every signal is computed INSIDE the row
with array expressions — sort the document's own n-gram array, mark
adjacent-equal runs, fold once — so the whole 12-column suite is
MAP-ONLY: zero Exchange, zero explode, nothing shuffles (plan-asserted
in ``tests/test_gopher.py``). Contrast with the corpus-level line census
in ``operators/dedup.py``, the cross-document variant that pays its one
hash exchange by design.

LAMBDA-COST DISCIPLINE (the bug this file shipped with first): Spark
evaluates higher-order functions interpreted, re-executing any non-bound
subtree referenced inside a lambda once PER ELEMENT — ``element_at(
array_sort(transform(...)), i)`` inside a transform is O(T^2)/O(T^3) per
document (measured: ~700 s for 500 56-token docs; the same trap
functions/text.py documents for the rule engine). The rewrite stages
every reused array through a materialized column (multi-referenced
non-cheap aliases survive CollapseProject), and adjacent-pair logic is
``zip_with`` over two ``slice``s — HOF *arguments* are evaluated once
per row, only the lambda body runs per element, and every lambda here
touches nothing but its own variables and bound column references. Cost
per document is O(sum_n T*n + T log T), linear in text size.

Cross-engine exactness: numerators/denominators are per-document BIGINT
char counts; each fraction is a single double division rounded
half-away-from-zero to integer micros, identical in Spark and DuckDB.
Ties for the top n-gram break toward the lexicographically smallest gram
(both engines sort strings in binary order), so argmax is deterministic.

Semantics (documented deviations from the paper, chosen for
determinism): "characters in duplicated n-grams" counts the gram's
string length once per occurrence beyond the first, over a denominator
of gram chars summed over ALL occurrences (the paper's
distinct-overlapping-character accounting needs positional interval
union — O(doc) state the array form doesn't pay). The keep/drop rule
engine consumes these as thresholds, where a monotone proxy is
equivalent.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.text import (
    token_array,
    token_array_py,
    token_array_sql,
    word_ngrams,
)

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)
MICROS = 1_000_000


def _long(v: int) -> Column:
    return F.lit(v).cast("long")


def _frac_micros(num: Column, den: Column) -> Column:
    """round(1e6 * num/den) as BIGINT, 0 when the denominator is 0.
    One double division per doc — bit-identical across engines."""
    f = F.lit(float(MICROS)) * num.cast("double") / F.nullif(
        den.cast("double"), F.lit(0.0)
    )
    return F.coalesce(F.round(f, 0).cast("long"), _long(0))


def _segments(text: Column, sep: str) -> Column:
    """Non-empty trimmed segments of ``text`` split on the literal
    ``sep`` ('\\n' for lines, '\\n\\n' for paragraphs)."""
    parts = F.split(text, sep)
    trimmed = F.transform(parts, lambda x: F.btrim(x, F.lit(" \t\r")))
    return F.filter(trimmed, lambda x: F.length(x) > 0)


def _sorted_grams(ws: Column, n: int) -> Column:
    """Sorted overlapping word n-grams (space-joined), via the shared
    zip_with-over-slices builder (O(T*n) per row)."""
    return F.array_sort(word_ngrams(ws, n))


def _rep_chars(s: Column) -> Column:
    """For a SORTED array: char length of every occurrence beyond the
    first of each distinct value, 0 elsewhere — adjacent-equality via
    zip_with over the array and its shift-by-one, both evaluated once
    per row."""
    n = F.size(s)
    return F.when(n < 2, F.array().cast("array<long>")).otherwise(
        F.zip_with(
            F.slice(s, 1, n - 1),
            F.slice(s, 2, n - 1),
            lambda a, b: F.when(a == b, F.length(b).cast("long")).otherwise(
                _long(0)
            ),
        )
    )


def _tot_chars(s: Column) -> Column:
    return F.aggregate(s, _long(0), lambda a, x: a + F.length(x).cast("long"))


def _top_run_chars(s: Column) -> Column:
    """count * charlen of the most frequent element == the longest run
    of the SORTED array, via one struct-accumulator fold. Ties keep the
    earlier (lexicographically smaller) element: a later equal-length
    run never displaces the incumbent."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        _long(0).alias("run"),
        _long(0).alias("best"),
        _long(0).alias("bestlen"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(_long(1))
        improved = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(improved, run).otherwise(acc["best"]).alias("best"),
            F.when(improved, F.length(x).cast("long"))
            .otherwise(acc["bestlen"])
            .alias("bestlen"),
        )

    return F.aggregate(s, init, step, lambda a: a["best"] * a["bestlen"])


def gopher_repetition(
    docs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The full 12-signal repetition readout, one row per document, all
    integer micros. Columns: doc_id, n_lines, dup_line_frac_micros,
    dup_line_char_frac_micros, dup_para_frac_micros,
    dup_para_char_frac_micros, top{2,3,4}gram_char_frac_micros,
    dup{5..10}gram_char_frac_micros.

    Four chained narrow projections (tokens -> sorted gram arrays ->
    run/char stats -> fractions); each stage's arrays are materialized
    so no lambda ever re-evaluates an upstream subtree. ``keep_cols``
    are threaded through every stage unchanged (single-scan fusion in
    plans.curate.heuristic_filter_bank)."""
    text = F.col("text")
    ws = F.transform(token_array(text), lambda x: F.lower(x))
    st1 = docs.select(
        "doc_id",
        *keep_cols,
        ws.alias("ws"),
        F.array_sort(_segments(text, "\n")).alias("sl"),
        F.array_sort(_segments(text, "\n\n")).alias("sp"),
    )

    wsc = F.col("ws")
    st2 = st1.select(
        "doc_id",
        *keep_cols,
        "sl",
        "sp",
        *[_sorted_grams(wsc, n).alias(f"s{n}") for n in TOP_NS + DUP_NS],
    )

    st3_cols = [F.col("doc_id"), *[F.col(c) for c in keep_cols]]
    for nm in ("sl", "sp"):
        c = F.col(nm)
        st3_cols += [
            F.size(c).cast("long").alias(f"{nm}_n"),
            _rep_chars(c).alias(f"{nm}_rep"),
            _tot_chars(c).alias(f"{nm}_tot"),
        ]
    for n in TOP_NS + DUP_NS:
        c = F.col(f"s{n}")
        st3_cols.append(_rep_chars(c).alias(f"rep{n}"))
        st3_cols.append(_tot_chars(c).alias(f"tot{n}"))
    for n in TOP_NS:
        st3_cols.append(_top_run_chars(F.col(f"s{n}")).alias(f"topc{n}"))
    st3 = st2.select(*st3_cols)

    def dup_cnt(rep: Column) -> Column:
        return F.aggregate(
            rep, _long(0), lambda a, x: a + F.when(x > 0, 1).otherwise(0)
        )

    def dup_sum(rep: Column) -> Column:
        return F.aggregate(rep, _long(0), lambda a, x: a + x)

    out = [
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.col("sl_n").alias("n_lines"),
        _frac_micros(dup_cnt(F.col("sl_rep")), F.col("sl_n")).alias(
            "dup_line_frac_micros"
        ),
        _frac_micros(dup_sum(F.col("sl_rep")), F.col("sl_tot")).alias(
            "dup_line_char_frac_micros"
        ),
        _frac_micros(dup_cnt(F.col("sp_rep")), F.col("sp_n")).alias(
            "dup_para_frac_micros"
        ),
        _frac_micros(dup_sum(F.col("sp_rep")), F.col("sp_tot")).alias(
            "dup_para_char_frac_micros"
        ),
    ]
    for n in TOP_NS:
        out.append(
            _frac_micros(F.col(f"topc{n}"), F.col(f"tot{n}")).alias(
                f"top{n}gram_char_frac_micros"
            )
        )
    for n in DUP_NS:
        out.append(
            _frac_micros(dup_sum(F.col(f"rep{n}")), F.col(f"tot{n}")).alias(
                f"dup{n}gram_char_frac_micros"
            )
        )
    return st3.select(*out)


_FAST_SCHEMA = (
    "n_lines long, dup_line_frac_micros long, "
    "dup_line_char_frac_micros long, dup_para_frac_micros long, "
    "dup_para_char_frac_micros long, "
    + ", ".join(f"top{n}gram_char_frac_micros long" for n in TOP_NS)
    + ", "
    + ", ".join(f"dup{n}gram_char_frac_micros long" for n in DUP_NS)
)


def _py_frac(num: int, den: int) -> int:
    """Python twin of _frac_micros: one double division, half-away
    rounding (Python's round() is banker's — do NOT use it)."""
    if den == 0:
        return 0
    import math

    x = float(MICROS) * num / den
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _py_doc_signals(text: str) -> list[int]:
    """All 12 signals for one document — same semantics as the column
    version (Counter replaces sorted-run marking; identical integers)."""
    from collections import Counter

    out = []
    for sep in ("\n", "\n\n"):
        segs = [p.strip(" \t\r") for p in text.split(sep)]
        segs = [p for p in segs if p]
        cnt = Counter(segs)
        n = len(segs)
        dup_n = sum(c - 1 for c in cnt.values())
        dup_chars = sum((c - 1) * len(s) for s, c in cnt.items())
        tot_chars = sum(c * len(s) for s, c in cnt.items())
        if sep == "\n":
            out.append(n)
        out.append(_py_frac(dup_n, n))
        out.append(_py_frac(dup_chars, tot_chars))
    ws = token_array_py(text.lower())
    tops, dups = [], []
    for n in TOP_NS + DUP_NS:
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        cnt = Counter(grams)
        tot = sum(c * len(g) for g, c in cnt.items())
        if n in TOP_NS:
            if cnt:
                best_c = max(cnt.values())
                g = min(k for k, c in cnt.items() if c == best_c)
                tops.append(_py_frac(best_c * len(g), tot))
            else:
                tops.append(0)
        else:
            dup_chars = sum((c - 1) * len(g) for g, c in cnt.items())
            dups.append(_py_frac(dup_chars, tot))
    return out + tops + dups


def gopher_repetition_fast(docs: DataFrame) -> DataFrame:
    """Arrow-batched variant of :func:`gopher_repetition`: one iterator
    pandas UDF computing all 12 signals per batch, registered in the
    gate against the same oracle (``gopher_repetition_sql``). Production
    does not run it: ``gopher_repetition_filter`` (and with it
    ``heuristic_filter_bank`` and ``job.py --filter-bank``) runs the
    column version. Interpreted HOF eval costs ~7.5 ms/doc where the
    Python Counter pass costs a fraction of that (measured in
    tests/test_gopher.py::test_fast_variant). Map-only: text crosses
    the Arrow pipe once, zero Exchange. Results are integer-exact-equal
    to the column version (parity-tested; tokens come from
    ``functions/text.token_array_py``, and str.lower matches Java
    toLowerCase on the ASCII/Latin corpus contract shared with
    functions/langid.py)."""
    from pyspark.sql.functions import pandas_udf

    cols = [c.split(" ")[0] for c in _FAST_SCHEMA.split(", ")]

    @pandas_udf(_FAST_SCHEMA)
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            rows = [_py_doc_signals(t if t is not None else "") for t in texts]
            yield pd.DataFrame(rows, columns=cols)

    return docs.select(
        "doc_id", _udf(F.col("text")).alias("g")
    ).select("doc_id", "g.*")


# ---------------------------------------------------------------- SQL mirror
def _seg_sql(sep_sql: str) -> str:
    return (
        f"list_filter(list_transform(string_split(text, {sep_sql}), "
        "x -> trim(x, ' ' || chr(9) || chr(13))), x -> length(x) > 0)"
    )


def _seg_stats_sql(name: str, seg_expr: str) -> str:
    """CTE pair: per-(doc, segment) counts -> per-doc dup stats. The
    oracle may shuffle (it is a correctness mirror, not the scale path):
    unnest + GROUP BY replays the in-row sorted-run logic exactly."""
    return (
        f"{name}_occ AS (SELECT doc_id, seg, count(*) AS c, "
        f"length(seg) AS l FROM (SELECT doc_id, unnest({seg_expr}) AS seg "
        "FROM base) GROUP BY doc_id, seg), "
        f"{name}_st AS (SELECT doc_id, sum(c) AS n, sum(c - 1) AS dup_n, "
        "sum((c - 1) * l) AS dup_chars, sum(c * l) AS tot_chars "
        f"FROM {name}_occ GROUP BY doc_id)"
    )


def _gram_sql(n: int) -> str:
    return (
        f"g{n} AS (SELECT doc_id, unnest(list_transform("
        f"range(1, len(ws) - {n} + 2), "
        f"i -> array_to_string(ws[i:i + {n} - 1], ' '))) AS gram "
        f"FROM base WHERE len(ws) >= {n}), "
        f"c{n} AS (SELECT doc_id, gram, count(*) AS c, "
        f"length(gram) AS l FROM g{n} GROUP BY doc_id, gram), "
        f"s{n} AS (SELECT doc_id, sum((c - 1) * l) AS dup_chars, "
        f"sum(c * l) AS tot_chars FROM c{n} GROUP BY doc_id), "
        f"t{n} AS (SELECT doc_id, c * l AS top_chars FROM c{n} "
        "QUALIFY row_number() OVER (PARTITION BY doc_id "
        "ORDER BY c DESC, gram ASC) = 1)"
    )


def _frac_sql(num: str, den: str) -> str:
    return (
        f"coalesce(CAST(round({MICROS}.0 * {num} / nullif({den}, 0)) "
        "AS BIGINT), 0)"
    )


def gopher_repetition_sql() -> str:
    parts = [
        "WITH base AS (SELECT doc_id, text, "
        f"{token_array_sql('lower(text)')} AS ws FROM documents)",
        _seg_stats_sql("line", _seg_sql("chr(10)")),
        _seg_stats_sql("para", _seg_sql("chr(10) || chr(10)")),
    ]
    for n in TOP_NS + DUP_NS:
        parts.append(_gram_sql(n))
    sel = [
        "b.doc_id",
        "coalesce(line_st.n, 0)::BIGINT AS n_lines",
        _frac_sql("line_st.dup_n", "line_st.n")
        + " AS dup_line_frac_micros",
        _frac_sql("line_st.dup_chars", "line_st.tot_chars")
        + " AS dup_line_char_frac_micros",
        _frac_sql("para_st.dup_n", "para_st.n")
        + " AS dup_para_frac_micros",
        _frac_sql("para_st.dup_chars", "para_st.tot_chars")
        + " AS dup_para_char_frac_micros",
    ]
    joins = [
        "documents b",
        "LEFT JOIN line_st ON b.doc_id = line_st.doc_id",
        "LEFT JOIN para_st ON b.doc_id = para_st.doc_id",
    ]
    for n in TOP_NS:
        sel.append(
            _frac_sql(f"t{n}.top_chars", f"s{n}.tot_chars")
            + f" AS top{n}gram_char_frac_micros"
        )
        joins.append(f"LEFT JOIN s{n} ON b.doc_id = s{n}.doc_id")
        joins.append(f"LEFT JOIN t{n} ON b.doc_id = t{n}.doc_id")
    for n in DUP_NS:
        sel.append(
            _frac_sql(f"s{n}.dup_chars", f"s{n}.tot_chars")
            + f" AS dup{n}gram_char_frac_micros"
        )
        joins.append(f"LEFT JOIN s{n} ON b.doc_id = s{n}.doc_id")
    return (
        ",\n".join(parts)
        + "\nSELECT "
        + ",\n       ".join(sel)
        + "\nFROM "
        + "\n     ".join(joins)
    )


# Gopher Table A1 removal thresholds (arXiv:2112.11446 — public), in the
# same integer micros the readout emits: every comparison below is exact
# integer arithmetic, so the keep mask gates bit-identically cross-engine.
GOPHER_THRESHOLDS_MICROS = {
    "dup_line_frac_micros": 300_000,        # dup line fraction > 0.30
    "dup_para_frac_micros": 300_000,        # dup paragraph fraction > 0.30
    "dup_line_char_frac_micros": 200_000,   # dup line char fraction > 0.20
    "dup_para_char_frac_micros": 200_000,   # dup para char fraction > 0.20
    "top2gram_char_frac_micros": 200_000,   # top 2-gram > 0.20
    "top3gram_char_frac_micros": 180_000,   # top 3-gram > 0.18
    "top4gram_char_frac_micros": 160_000,   # top 4-gram > 0.16
    "dup5gram_char_frac_micros": 150_000,   # dup 5-gram > 0.15
    "dup6gram_char_frac_micros": 140_000,
    "dup7gram_char_frac_micros": 130_000,
    "dup8gram_char_frac_micros": 120_000,
    "dup9gram_char_frac_micros": 110_000,
    "dup10gram_char_frac_micros": 100_000,  # dup 10-gram > 0.10
}


def gopher_repetition_filter(
    docs: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The repetition suite made ACTIONABLE: apply the paper's removal
    thresholds to all 13 signals and emit the keep mask + failure
    accounting — the repetition-rule stage of a Gopher-style pipeline
    rather than a diagnostics readout. Map-only on top of the readout
    projections (zero Exchange, same as gopher_repetition); failed
    signal names travel as a comma-joined string in threshold order.

    Columns: doc_id, n_failed, keep, failed_signals."""
    g = gopher_repetition(docs, keep_cols=keep_cols)
    items = list(GOPHER_THRESHOLDS_MICROS.items())
    n_failed = None
    for c, t in items:
        term = (F.col(c) > F.lit(t)).cast("long")
        n_failed = term if n_failed is None else n_failed + term
    reasons = F.concat_ws(
        ",",
        *[
            F.when(F.col(c) > F.lit(t), F.lit(c[: -len("_micros")]))
            for c, t in items
        ],
    )
    return g.select(
        "doc_id",
        *keep_cols,
        n_failed.alias("n_failed"),
        (n_failed == 0).alias("keep"),
        reasons.alias("failed_signals"),
    )


def gopher_repetition_filter_sql() -> str:
    items = list(GOPHER_THRESHOLDS_MICROS.items())
    n_failed = " + ".join(f"({c} > {t})::BIGINT" for c, t in items)
    reasons = ", ".join(
        f"CASE WHEN {c} > {t} THEN '{c[: -len('_micros')]}' END"
        for c, t in items
    )
    return f"""
WITH g AS ({gopher_repetition_sql()})
SELECT doc_id, {n_failed} AS n_failed,
       ({n_failed}) = 0 AS keep,
       concat_ws(',', {reasons}) AS failed_signals
FROM g
"""
