"""Native Column expressions for per-document text features.

Every feature is a pure JVM-side expression — and deliberately free of
higher-order functions (transform/filter/aggregate lambdas) on the hot
path: Spark's whole-stage-codegen subexpression elimination does NOT
cover lambda expressions, so a 21-rule projection that reuses an HOF
tokenization re-executes it per reference (measured: 990 split() calls
per row before this rewrite). Instead:

* token counts   -> split() on edge-trimmed text (plain function, CSE-able)
* sum word len   -> arithmetic: length(text) - whitespace count
* line metrics   -> single-pass multiline regex counts ('(?m)...' — the
                    Java/RE2/Python common subset; \\n line endings assumed)
* stopword sets  -> array_intersect on array_distinct (no lambdas)

The whitespace tokenizer (:func:`token_array`) and the lowercase
collapse (:func:`collapsed_lower`) are spelled here once per engine:
the ``_sql`` twins build the DuckDB oracles, the ``_py`` twin the Python
replays, so a gate query's two sides cannot drift apart.

This is the Spark re-expression of the reference's per-record checkers
(validators.py:221-646), one shared pass instead of
one-graph-scan-per-metric (validators.py:906-972).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from metadata_quality_stack_spark import config

WS_CLASS = "[ \\t\\n\\r]"  # explicit whitespace class (dialect-stable)
WS_CHARS = " \t\n\r"
_WS_RUN = re.compile(WS_CLASS + "+")

ALPHA_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
DIGIT_CHARS = "0123456789"
# printable ASCII (0x20..0x7E) + tab/newline/CR — the ascii_ratio rule's
# allowed set (nti-profile compliance slot); regex twin: [ -~\t\n\r]
ASCII_CHARS = "".join(chr(c) for c in range(0x20, 0x7F)) + "\t\n\r"


def edge_trimmed(text: Column) -> Column:
    """Strip leading/trailing [ \\t\\n\\r] — btrim (char-set scan, no
    regex)."""
    return F.btrim(text, F.lit(WS_CHARS))


def token_array(text: Column) -> Column:
    """Non-empty whitespace-separated tokens (empty array for blank text)."""
    t = edge_trimmed(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, WS_CLASS + "+")
    )


def token_array_sql(expr: str) -> str:
    """DuckDB twin of :func:`token_array` over a SQL expression (NULL
    gives NULL, blank text ``[]``). Callers pass the input they need,
    e.g. ``token_array_sql("lower(text)")``."""
    return f"list_filter(regexp_split_to_array({expr}, '{WS_CLASS}+'), x -> x <> '')"


def token_array_py(text: str) -> list[str]:
    """Python twin of :func:`token_array`. Not ``str.split()``, which also
    splits on Unicode whitespace (NBSP, U+3000, \\x0b, \\x0c)."""
    return [t for t in _WS_RUN.split(text) if t]


def collapsed_lower(text: Column) -> Column:
    """Lowercased text with each whitespace run collapsed to one space
    and the edges trimmed — the near-exact fingerprint's normal form."""
    return F.trim(F.regexp_replace(F.lower(text), WS_CLASS + "+", " "))


def collapsed_lower_sql(expr: str) -> str:
    """DuckDB twin of :func:`collapsed_lower`."""
    return f"trim(regexp_replace(lower({expr}), '{WS_CLASS}+', ' ', 'g'))"


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined overlapping word n-grams, [] when fewer than n
    tokens. Built as zip_with over n shifted slices: HOF ARGUMENTS are
    evaluated once per row, so this is O(T*n) even when ``toks`` is an
    inline (non-materialized) expression. The transform-with-
    element_at/slice-inside-the-lambda formulation re-evaluates the
    whole ``toks`` subtree once per element under Spark's interpreted
    HOF eval — O(T^2) per document, measured as a ~100x slowdown on the
    repetition suite before this helper existed."""
    size = F.size(toks)
    m = size - (n - 1)  # gram count when size >= n
    grams = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams,
            F.slice(toks, j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(size >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def chars_in_set(text: Column, chars: str) -> Column:
    """Number of characters of ``text`` in ``chars`` — translate-based
    (single table-lookup pass, ~10x cheaper than a regex strip; the 100 TB
    hot path runs this 3x per doc)."""
    return F.length(text) - F.length(F.translate(text, chars, ""))


def chars_matching(text: Column, cls: str) -> Column:
    """Number of characters of ``text`` matching regex char-class ``cls``
    (kept for general classes; hot-path counts use chars_in_set)."""
    return F.length(text) - F.length(F.regexp_replace(text, cls, ""))


def substr_occurrences(text: Column, sub: str) -> Column:
    """Occurrences of literal ``sub`` (leftmost, non-overlapping)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit("")))) / F.lit(len(sub))


def safe_div(num: Column, den: Column) -> Column:
    """count/population with the reference's population-0 guard
    (validators.py:957: percentage = 0 when population == 0)."""
    return F.coalesce(
        num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), F.lit(0.0)
    )


# multiline regex line probes (Java/RE2/Python-parity; '\n' line endings)
RE_NONEMPTY_LINE = "(?m)^ *[^ \\n]"
RE_TERMINAL_PUNCT = "(?m)[.!?\"'] *$"
RE_ELLIPSIS_EOL = "(?m)\\.\\.\\. *$"
RE_BULLET_BOL = "(?m)^ *[-*•]"


def lower_column(text: Column) -> dict[str, Column]:
    """Stage-0a: the lowercased text, materialized once."""
    return {"_low_text": F.lower(text)}


def word_count(text: Column) -> Column:
    """Number of whitespace-separated tokens == number of maximal
    non-whitespace runs, counted with ONE regexp_count — no token array
    is allocated (the raw-token array existed only to take its size;
    the count of runs is identical, including 0 for blank and NULL for
    NULL text)."""
    return F.regexp_count(text, F.lit("[^ \\t\\n\\r]+"))


def token_columns(text: Column, low_text: Column) -> dict[str, Column]:
    """Stage-0b intermediate, materialized ONCE as a real column so the
    split work is guaranteed single-execution (a materialized column is a
    local in the generated code):

    * _lows — distinct tokens of the (stage-0a) lowercased text; split of
      _low_text rather than transform(toks, lower) because higher-order
      functions are NOT codegen-capable — one HOF kicks the whole
      projection out of whole-stage codegen into interpreted eval
      (verified via explain: the Project loses its codegen id)

    The raw-token array is no longer materialized: its only consumer was
    ``size()``, which :func:`word_count` computes array-free.
    """
    return {
        "_lows": F.array_distinct(token_array(low_text)),
    }


def feature_columns(
    text: Column,
    lows: Column | None = None,
    low_text: Column | None = None,
) -> dict[str, Column]:
    """All raw per-doc features. Pass materialized ``lows``/``low_text``
    (token_columns stage) on the hot path; without them the subtrees are
    built inline (single-query convenience). The word count is array-free
    (word_count — one regexp_count, no raw-token materialization).

    Char-class counts use translate (chars_in_set), not regex — 3 fewer
    full-text regex passes per doc; measured ~25% of per-doc CPU at 100k
    docs/run."""
    low_text = F.lower(text) if low_text is None else low_text
    lows = F.array_distinct(token_array(low_text)) if lows is None else lows
    raw_lines = F.split(text, "\\n", -1)
    sw = F.array(*[F.lit(s) for s in config.STOPWORDS_EN])

    boiler = F.lit(False)
    for p in config.BOILERPLATE_PHRASES:
        boiler = boiler | F.contains(low_text, F.lit(p))

    n_ws = chars_in_set(text, WS_CHARS)
    return {
        "n_words": word_count(text),
        "n_chars_txt": F.length(text),
        "n_lines": F.regexp_count(text, F.lit(RE_NONEMPTY_LINE)),
        # sum of token lengths == count of non-whitespace chars
        "sum_word_len": F.length(text) - n_ws,
        "n_alpha": chars_in_set(text, ALPHA_CHARS),
        "n_digit": chars_in_set(text, DIGIT_CHARS),
        "n_ascii": chars_in_set(text, ASCII_CHARS),
        "n_ws": n_ws,
        "n_symbols": (
            chars_in_set(text, "#") + substr_occurrences(text, "...")
        ).cast("long"),
        "n_raw_lines": F.size(raw_lines),
        "n_distinct_raw_lines": F.size(F.array_distinct(raw_lines)),
        "n_distinct_words": F.size(lows),
        "n_stop_distinct": F.size(F.array_intersect(lows, sw)),
        "n_terminal_punct_lines": F.regexp_count(text, F.lit(RE_TERMINAL_PUNCT)),
        "n_ellipsis_lines": F.regexp_count(text, F.lit(RE_ELLIPSIS_EOL)),
        "n_bullet_lines": F.regexp_count(text, F.lit(RE_BULLET_BOL)),
        "has_boilerplate": boiler,
        # PII probes behind cheap literal gates: the email pattern cannot
        # match without '@', phone/IP cannot match without a digit, so the
        # expensive regex runs only on rows that could match — a pure
        # short-circuit (identical values, no oracle change). The digit
        # gate reuses the n_digit translate count already computed above.
        "has_email": F.contains(text, F.lit("@")) & text.rlike(config.PII_EMAIL),
        "has_phone": (chars_in_set(text, DIGIT_CHARS) > 0)
        & text.rlike(config.PII_PHONE),
        "has_ip": (chars_in_set(text, DIGIT_CHARS) > 0) & text.rlike(config.PII_IP),
    }
