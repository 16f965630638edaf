"""PII scrub — chained native regexp_replace (north rule: regex-based
PII/toxicity scrubbing of emails, phones, IPs).

All patterns live in config (Java/RE2/Python common subset). The chain is
ordered (config.SCRUB_ORDER) and counts are measured stage-by-stage on the
text as it existed entering that stage, so the pandas oracle and DuckDB SQL
replicate byte-identical output (SURVEY.md §4.3 #6, #8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark import config
from metadata_quality_stack_spark.functions.text import token_array, token_array_sql


def scrub_columns(text: Column) -> dict[str, Column]:
    """Returns scrubbed text + per-kind scrub counts.

    The replace pass is gated on its own count: when a stage matches
    nothing (the overwhelmingly common case for PII), the input string
    passes through untouched — no second regex scan, no string copy.
    Count==0 makes the replace an identity, so the gate is semantics-free."""
    out: dict[str, Column] = {}
    cur = text
    for kind in config.SCRUB_ORDER:
        pattern, token = config.PII_REPLACEMENTS[kind]
        # literal pre-gate: the email pattern cannot match without '@',
        # phone/IP cannot match without a digit. A translate/contains scan
        # is ~4x cheaper than the PII regex, so rows that cannot match
        # (the overwhelming majority) skip the regex entirely. Values are
        # identical — the DuckDB/pandas oracles need no gate.
        if kind == "email":
            could_match = F.contains(cur, F.lit("@"))
        else:
            could_match = (
                F.length(cur) - F.length(F.translate(cur, "0123456789", ""))
            ) > 0
        # inverted form keeps NULL-text semantics: ~NULL is NULL, so null
        # rows fall through to regexp_count(NULL) -> NULL, as ungated
        cnt = F.when(~could_match, F.lit(0)).otherwise(
            F.regexp_count(cur, F.lit(pattern))
        )
        out[f"scrub_{kind}_count"] = cnt
        cur = F.when(cnt > 0, F.regexp_replace(cur, pattern, token)).otherwise(cur)
    out["scrubbed_text"] = cur
    total = None
    for kind in config.SCRUB_ORDER:
        c = out[f"scrub_{kind}_count"]
        total = c if total is None else total + c
    out["scrub_count"] = total
    return out


def apply_scrub(df: DataFrame) -> DataFrame:
    cols = scrub_columns(F.col("text"))
    return df.select(
        df["*"],
        *[cols[k].alias(k) for k in sorted(cols)],
    )


def toxicity_pattern(terms: list[str] | None = None) -> str:
    """One case-insensitive whole-word alternation over the term list —
    the Java/RE2/Python common subset ((?i), \\b, non-capturing group all
    behave identically across Spark, DuckDB, and `re`)."""
    import re as _re

    terms = config.TOXIC_TERMS if terms is None else terms
    if not terms:
        raise ValueError("toxicity term list is empty")
    return "(?i)\\b(?:" + "|".join(_re.escape(t) for t in terms) + ")\\b"


def toxicity_columns(text: Column, terms: list[str] | None = None) -> dict[str, Column]:
    """Masked text + match count for the toxicity word list (north rule:
    regex-based PII/toxicity scrubbing). Count-gated like the PII chain:
    the replace pass only runs on rows that matched, so clean rows (the
    overwhelming majority at crawl scale) pass through untouched."""
    pattern = toxicity_pattern(terms)
    cnt = F.regexp_count(text, F.lit(pattern))
    detoxed = F.when(
        cnt > 0, F.regexp_replace(text, pattern, config.TOX_TOKEN)
    ).otherwise(text)
    return {"tox_count": cnt, "detoxed_text": detoxed}


def apply_toxicity(df: DataFrame, terms: list[str] | None = None) -> DataFrame:
    cols = toxicity_columns(F.col("text"), terms)
    return df.select(
        df["*"],
        cols["tox_count"].alias("tox_count"),
        cols["detoxed_text"].alias("detoxed_text"),
    )


def toxicity_sql_exprs(
    terms: list[str] | None = None, text: str = "text"
) -> dict[str, str]:
    """DuckDB-dialect mirror of toxicity_columns (for oracle_sql)."""
    pat_sql = toxicity_pattern(terms).replace("'", "''")
    return {
        "tox_count": f"len(regexp_extract_all({text}, '{pat_sql}'))",
        "detoxed_text": (
            f"regexp_replace({text}, '{pat_sql}', '{config.TOX_TOKEN}', 'g')"
        ),
    }


def scrub_sql_exprs(text: str = "text") -> dict[str, str]:
    """DuckDB-dialect mirror of scrub_columns (for oracle_sql)."""
    out: dict[str, str] = {}
    cur = text
    for kind in config.SCRUB_ORDER:
        pattern, token = config.PII_REPLACEMENTS[kind]
        pat_sql = pattern.replace("'", "''")
        out[f"scrub_{kind}_count"] = (
            f"len(regexp_extract_all({cur}, '{pat_sql}'))"
        )
        cur = f"regexp_replace({cur}, '{pat_sql}', '{token}', 'g')"
    out["scrubbed_text"] = cur
    out["scrub_count"] = " + ".join(
        out[f"scrub_{k}_count"] for k in config.SCRUB_ORDER
    )
    return out


RARE_MIN_DF = 2
RARE_UNK = "<unk>"


def rare_token_scrub(docs: DataFrame, min_df: int = RARE_MIN_DF) -> DataFrame:
    """k-anonymity-style rare-token suppression: any whitespace token
    whose corpus DOCUMENT frequency is below ``min_df`` is replaced by
    ``<unk>`` — the memorization-risk complement of the regex PII scrub
    (names, ids, and addresses that appear in one document are exactly
    the strings a model should never be able to regurgitate, and no
    regex list enumerates them; a frequency floor catches them all).

    Plan shape: tokenize once with positions, ONE token-keyed shuffle
    join against the (token, df) census — the census is vocab-sized and
    the join payload is (doc_id, pos, token) rows; rebuild per doc by
    position. Whitespace is normalized to single spaces in the output
    (documented; the census and replacement see every original token).
    Case-sensitive by design: 'Smith' and 'smith' are different
    memorization risks.

    Columns: doc_id, scrubbed_text, n_tokens, n_scrubbed."""
    tok = docs.select(
        "doc_id",
        F.posexplode(token_array(F.coalesce(F.col("text"), F.lit("")))).alias(
            "pos", "token"
        ),
    )
    census = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    out_tok = tok.join(census, "token").select(
        "doc_id",
        "pos",
        F.when(F.col("df") < min_df, F.lit(RARE_UNK))
        .otherwise(F.col("token"))
        .alias("out"),
        (F.col("df") < min_df).cast("int").alias("scrubbed"),
    )
    per = out_tok.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "out"))),
                lambda s: s["out"],
            ),
            " ",
        ).alias("scrubbed_text"),
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("scrubbed").cast("long").alias("n_scrubbed"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("scrubbed_text", F.lit("")).alias("scrubbed_text"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_scrubbed", F.lit(0)).alias("n_scrubbed"),
        )
    )


def rare_token_scrub_sql(min_df: int = RARE_MIN_DF) -> str:
    toks = token_array_sql("coalesce(text, '')")
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, e.pos AS pos, e.token AS token FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)),
      i -> struct_pack(pos := i - 1, token := ts[i]))) AS e
    FROM (SELECT doc_id, {toks} AS ts FROM documents))),
census AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
per AS (
  SELECT t.doc_id,
    string_agg(CASE WHEN c.df < {min_df} THEN '{RARE_UNK}' ELSE t.token END,
               ' ' ORDER BY t.pos) AS scrubbed_text,
    count(*)::BIGINT AS n_tokens,
    sum((c.df < {min_df})::INT)::BIGINT AS n_scrubbed
  FROM tok t JOIN census c USING (token) GROUP BY t.doc_id)
SELECT d.doc_id, coalesce(p.scrubbed_text, '') AS scrubbed_text,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_scrubbed, 0) AS n_scrubbed
FROM documents d LEFT JOIN per p USING (doc_id)
"""
