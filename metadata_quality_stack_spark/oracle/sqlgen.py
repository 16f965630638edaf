"""DuckDB-dialect SQL generator for the native scoring semantics.

Generates, from the SAME rule table as operators/rules.py, an ANSI-ish SQL
query DuckDB can run on the raw parquet views — used by
``__spark_entry__.oracle_sql()`` as the correctness oracle, and by the
pytest parity suite. Every arithmetic step mirrors the Spark expression
order and types so IEEE doubles are bit-identical across engines
(SURVEY.md §4.3 #1-#2: HALF_EVEN via the floor-based tie formula,
population-0 guard via coalesce/nullif).
"""

from __future__ import annotations

from metadata_quality_stack_spark import config
from metadata_quality_stack_spark.functions.text import token_array_sql

# the documents table's metadata columns, by role; the Spark operators
# read the same mapping (analytics.DOC_META)
DOC_META = {"lang": "lang", "source": "source", "n_chars": "n_chars"}


def _sql_str_list(items: list[str]) -> str:
    return "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in items) + "]"


def _safe_div(num: str, den: str) -> str:
    return f"coalesce(CAST({num} AS DOUBLE) / nullif(CAST({den} AS DOUBLE), 0.0), 0.0)"


def _pct(cond: str) -> str:
    return f"CASE WHEN {cond} THEN 1.0 ELSE 0.0 END"


def bankers_int(x: str) -> str:
    """HALF_EVEN round-to-int of a non-negative double — same floor-based
    formula as operators.rules.half_even_int."""
    return (
        f"CASE WHEN ({x}) - floor({x}) = 0.5 "
        f"THEN CAST(floor({x}) + (CAST(floor({x}) AS BIGINT) % 2) AS INTEGER) "
        f"ELSE CAST(floor(({x}) + 0.5) AS INTEGER) END"
    )


# multiline regex line probes — identical patterns to functions.text
RE_NONEMPTY_LINE = "(?m)^ *[^ \\n]"
RE_TERMINAL_PUNCT = "(?m)[.!?\"''] *$"  # '' = escaped quote in SQL literal
RE_ELLIPSIS_EOL = "(?m)\\.\\.\\. *$"
RE_BULLET_BOL = "(?m)^ *[-*•]"


def feature_select() -> str:
    """SELECT-list computing the raw features from ``toks``/``lows``/``text``."""
    sw = _sql_str_list(config.STOPWORDS_EN)
    boiler = " OR ".join(
        f"contains(lower(text), '{p}')" for p in config.BOILERPLATE_PHRASES
    )
    feats = {
        "n_words": "len(toks)",
        "n_chars_txt": "length(text)",
        "n_lines": f"len(regexp_extract_all(text, '{RE_NONEMPTY_LINE}'))",
        "sum_word_len": (
            "length(text) - (length(text) - "
            "length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g')))"
        ),
        "n_alpha": "length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))",
        "n_ascii": "length(text) - length(regexp_replace(text, '[ -~\\t\\n\\r]', '', 'g'))",
        "n_digit": "length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))",
        "n_ws": "length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g'))",
        "n_symbols": (
            "(length(text) - length(regexp_replace(text, '[#]', '', 'g')))"
            " + (length(text) - length(replace(text, '...', ''))) // 3"
        ),
        "n_raw_lines": "len(string_split(text, chr(10)))",
        "n_distinct_raw_lines": "len(list_distinct(string_split(text, chr(10))))",
        "n_distinct_words": "len(lows)",
        "n_stop_distinct": f"len(list_intersect(lows, {sw}))",
        "n_terminal_punct_lines": f"len(regexp_extract_all(text, '{RE_TERMINAL_PUNCT}'))",
        "n_ellipsis_lines": f"len(regexp_extract_all(text, '{RE_ELLIPSIS_EOL}'))",
        "n_bullet_lines": f"len(regexp_extract_all(text, '{RE_BULLET_BOL}'))",
        "has_boilerplate": f"({boiler})",
        "has_email": f"regexp_matches(text, '{config.PII_EMAIL}')",
        "has_phone": f"regexp_matches(text, '{config.PII_PHONE}')",
        "has_ip": f"regexp_matches(text, '{config.PII_IP}')",
    }
    return ",\n    ".join(f"{expr} AS {name}" for name, expr in feats.items())


def native_pct_select(meta: dict[str, str | None]) -> str:
    """SELECT-list of pct_<rule> columns from the feature columns.
    ``meta`` maps 'lang'/'source'/'n_chars' to source column names or None."""
    c = config
    # nullif denominators mirror rules.native_rule_percentages exactly
    wc = "nullif(CAST(n_words AS DOUBLE), 0.0)"
    nch = "nullif(CAST(n_chars_txt AS DOUBLE), 0.0)"
    mwl = f"CAST(sum_word_len AS DOUBLE) / {wc}"

    def present(col: str | None) -> str:
        if col is None:
            return "1.0"
        return _pct(f"{col} IS NOT NULL AND CAST({col} AS VARCHAR) <> ''")

    pcts = {
        "word_count": _pct(f"n_words >= {c.MIN_WORDS} AND n_words <= {c.MAX_WORDS}"),
        "mean_word_length": _pct(
            f"n_words > 0 AND {mwl} >= {c.MIN_MEAN_WORD_LEN} AND {mwl} <= {c.MAX_MEAN_WORD_LEN}"
        ),
        "alpha_ratio": _safe_div("n_alpha", "n_chars_txt"),
        "ascii_ratio": _safe_div("n_ascii", "n_chars_txt"),
        "line_uniqueness": _safe_div("n_distinct_raw_lines", "n_raw_lines"),
        "terminal_punct": _safe_div("n_terminal_punct_lines", "n_lines"),
        "ellipsis_free": _safe_div("n_lines - n_ellipsis_lines", "n_lines"),
        "boilerplate_free": _pct("NOT has_boilerplate"),
        "stopword_density": _pct(
            "n_distinct_words > 0 AND CAST(n_stop_distinct AS DOUBLE) / "
            f"nullif(CAST(n_distinct_words AS DOUBLE), 0.0) >= {c.MIN_STOPWORD_DENSITY}"
        ),
        "stopword_distinct": _pct(f"n_stop_distinct >= {c.MIN_DISTINCT_STOPWORDS}"),
        "symbol_ratio": _pct(
            f"n_words > 0 AND CAST(n_symbols AS DOUBLE) / {wc} <= {c.MAX_SYMBOL_WORD_RATIO}"
        ),
        "bullet_free": _safe_div("n_lines - n_bullet_lines", "n_lines"),
        "word_diversity": _safe_div("n_distinct_words", "n_words"),
        "digit_ratio": _pct(
            f"n_chars_txt > 0 AND CAST(n_digit AS DOUBLE) / {nch} <= {c.MAX_DIGIT_RATIO}"
        ),
        "pii_email_free": _pct("NOT has_email"),
        "pii_phone_free": _pct("NOT has_phone"),
        "whitespace_ratio": _pct(
            f"n_chars_txt > 0 AND CAST(n_ws AS DOUBLE) / {nch} <= {c.MAX_WHITESPACE_RATIO}"
        ),
        "pii_ip_free": _pct("NOT has_ip"),
        "chars_consistent": (
            "1.0" if meta.get("n_chars") is None else _pct(f"{meta['n_chars']} = n_chars_txt")
        ),
        "lang_present": present(meta.get("lang")),
        "source_present": present(meta.get("source")),
        "avg_line_len": _pct(
            f"n_lines > 0 AND {nch} / nullif(CAST(n_lines AS DOUBLE), 0.0) <= {c.MAX_AVG_LINE_LEN}"
        ),
    }
    return ",\n    ".join(f"{expr} AS pct_{name}" for name, expr in pcts.items())


def score_select(profile: str = "webtext_native") -> str:
    """SELECT-list turning pct_* into dimension/total/rating/keep columns —
    same rule order and left-associated addition as rules.score_columns."""
    rules = config.RULES_BY_PROFILE[profile]
    dim_sum: dict[str, str] = {}
    for r in rules:
        term = f"pct_{r['id']} * {float(r['weight'])!r}"
        dim_sum[r["dimension"]] = (
            term if r["dimension"] not in dim_sum else dim_sum[r["dimension"]] + " + " + term
        )
    parts = []
    for d in config.DIMENSIONS:
        parts.append(f"{bankers_int(dim_sum.get(d, '0.0'))} AS {d}")
    return ",\n    ".join(parts)


def pct_with_clause() -> str:
    """The shared ``WITH tok .. feat .. pct`` chain over ``documents``
    ending in a ``pct`` relation carrying ``doc_id`` + every pct_<rule>
    column."""
    meta_carry = ", " + ", ".join(sorted(DOC_META.values()))
    return f"""WITH tok AS (
  SELECT doc_id{meta_carry}, text,
    {token_array_sql("text")} AS toks,
    list_distinct({token_array_sql("lower(text)")}) AS lows
  FROM documents
), feat AS (
  SELECT doc_id{meta_carry},
    {feature_select()}
  FROM tok
), pct AS (
  SELECT doc_id,
    {native_pct_select(DOC_META)}
  FROM feat
)"""


def metric_report_sql() -> str:
    """Long-format per-metric breakdown (rules.metric_report oracle),
    including the per-metric label_en/label_es/severity metadata."""
    rules = config.RULES_BY_PROFILE["webtext_native"]
    selects = []
    for r in rules:
        en, es = config.labels_for(r["id"])
        selects.append(
            f"SELECT doc_id, '{r['id']}' AS metric, "
            f"'{r['dimension']}' AS dimension, "
            f"CAST({int(r['weight'])} AS INTEGER) AS weight, "
            f"round(pct_{r['id']}, 6) AS pct, "
            f"round(pct_{r['id']} * {float(r['weight'])!r}, 4) AS points, "
            f"'{en}' AS label_en, '{es}' AS label_es, "
            f"'{config.severity_for(r['id'])}' AS severity FROM pct"
        )
    return pct_with_clause() + "\n" + "\nUNION ALL\n".join(selects)


def dqv_report_sql() -> str:
    """Nested DQV report JSON (textops.report_dqv oracle): dimensions
    object + measurements array, byte-identical to the Spark rendering."""
    from metadata_quality_stack_spark.operators.textops import DQV_METRIC_TEMPLATE

    tmpl = DQV_METRIC_TEMPLATE.replace("'", "''")
    t = config.thresholds_for("webtext_native")
    rules = config.RULES_BY_PROFILE["webtext_native"]
    all_pcts = ", ".join(f"pct_{r['id']}" for r in rules)
    total = " + ".join(config.DIMENSIONS)
    profile_ids = {r["id"] for r in rules}
    hard_cond = " AND ".join(
        f"pct_{rid} >= 0.5" for rid in config.HARD_RULES if rid in profile_ids
    ) or "TRUE"
    m_parts = []
    for r in rules:
        en, es = config.labels_for(r["id"])
        m_parts.append(
            f"printf('{tmpl}', '{r['id']}', '{r['dimension']}', "
            f"CAST({int(r['weight'])} AS INTEGER), round(pct_{r['id']}, 6), "
            f"round(pct_{r['id']} * {float(r['weight'])!r}, 4), "
            f"'{en}', '{es}', '{config.severity_for(r['id'])}')"
        )
    measurements = "concat_ws(', ', " + ", ".join(m_parts) + ")"
    dims_fmt = ", ".join(f'"{d}": %d' for d in config.DIMENSIONS)
    head_fmt = (
        '{"doc_id": %d, "totalScore": %d, "rating": "%s", "keep": %s, '
        '"dimensions": {' + dims_fmt + '}, "measurements": ['
    ).replace("'", "''")
    dim_args = ", ".join(config.DIMENSIONS)
    return f"""{pct_with_clause()}, dims AS (
  SELECT doc_id, {all_pcts},
    {score_select("webtext_native")}
  FROM pct
)
SELECT doc_id,
  printf('{head_fmt}', doc_id, CAST({total} AS INTEGER),
    CASE WHEN {total} >= {t['excellent']} THEN 'Excellent'
         WHEN {total} >= {t['good']} THEN 'Good'
         WHEN {total} >= {t['sufficient']} THEN 'Sufficient'
         ELSE 'Bad' END,
    CASE WHEN {total} >= {t['sufficient']} AND {hard_cond}
         THEN 'true' ELSE 'false' END,
    {dim_args})
  || {measurements} || ']}}' AS report
FROM dims
"""


def native_scoring_sql(
    table: str = "documents",
    extra_cols: tuple[str, ...] = (),
    profile: str = "webtext_native",
) -> str:
    """Full per-document scoring query (native profile) in DuckDB SQL."""
    t = config.thresholds_for(profile)
    carry_cols = ["doc_id", *extra_cols]
    carry = ", ".join(carry_cols)
    meta_src = ", ".join(sorted(set(DOC_META.values()) - set(carry_cols)))
    meta_carry = f", {meta_src}" if meta_src else ""
    total = " + ".join(config.DIMENSIONS)
    profile_ids = {r["id"] for r in config.RULES_BY_PROFILE[profile]}
    hard = [rid for rid in config.HARD_RULES if rid in profile_ids]
    hard_carry = ", ".join(f"pct_{rid}" for rid in hard)
    hard_cond = " AND ".join(f"pct_{rid} >= 0.5" for rid in hard) or "TRUE"
    return f"""
WITH tok AS (
  SELECT {carry}{meta_carry}, text,
    {token_array_sql("text")} AS toks,
    list_distinct({token_array_sql("lower(text)")}) AS lows
  FROM {table}
), feat AS (
  SELECT {carry}{meta_carry},
    {feature_select()}
  FROM tok
), pct AS (
  SELECT {carry},
    {native_pct_select(DOC_META)}
  FROM feat
), dims AS (
  SELECT {carry}, {hard_carry},
    {score_select(profile)}
  FROM pct
)
SELECT {carry},
  findability, accessibility, interoperability, reusability, contextuality,
  CAST({total} AS INTEGER) AS total_score,
  CASE WHEN {total} >= {t['excellent']} THEN 'Excellent'
       WHEN {total} >= {t['good']} THEN 'Good'
       WHEN {total} >= {t['sufficient']} THEN 'Sufficient'
       ELSE 'Bad' END AS rating,
  ({total} >= {t['sufficient']} AND {hard_cond}) AS keep
FROM dims
"""
