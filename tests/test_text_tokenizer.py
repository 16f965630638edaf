"""The whitespace tokenizer and the lowercase collapse agree across
Spark, DuckDB and Python on hostile inputs (null, empty, whitespace-only,
CRLF, edge runs, Unicode space-like characters that are NOT separators,
non-Latin scripts, emoji, 1 MB), and null stays null in both engines."""

import duckdb
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.text import (
    collapsed_lower,
    collapsed_lower_sql,
    token_array,
    token_array_py,
    token_array_sql,
)

TEXTS = [
    "",
    " \t\n\r ",
    "one\r\ntwo\r\n\r\nthree",
    "  \t lead and trail \n\r ",
    # \x0b, \x0c, NBSP and U+3000 split under str.split(), but are not
    # in the [ \t\n\r] class
    "a\x0bb c\x0cd e\u00a0f g\u3000h",
    "Straße Москва 東京 مرحبا नमस्ते",
    "👍🏽 🚀 family: 👨‍👩‍👧",
    "Lorem\tIPSUM  dolor\r\n" * 50_000,
]
# split rows only: lower('İ') is 'i' + U+0307 in Spark and Python, 'i' in DuckDB
SPLIT_ONLY = ["İstanbul İZMİR"]


def _engines(spark, texts):
    rows = list(enumerate(texts)) + [(len(texts), None)]
    sp = {
        r.i: (r.toks, r.norm)
        for r in spark.createDataFrame(rows, "i int, s string")
        .select(
            "i",
            token_array(F.col("s")).alias("toks"),
            collapsed_lower(F.col("s")).alias("norm"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dk = {
        i: (toks, norm)
        for i, toks, norm in con.execute(
            f"SELECT i, {token_array_sql('s')}, {collapsed_lower_sql('s')} FROM t"
        ).fetchall()
    }
    return rows, sp, dk


def test_token_split_agrees(spark):
    rows, sp, dk = _engines(spark, TEXTS + SPLIT_ONLY)
    for i, text in rows:
        if text is None:
            assert sp[i][0] is None and dk[i][0] is None
            continue
        want = token_array_py(text)
        assert sp[i][0] == dk[i][0] == want, i
        assert all(want) and not any(c in t for t in want for c in " \t\n\r")
    assert token_array_py(TEXTS[4]) == ["a\x0bb", "c\x0cd", "e\u00a0f", "g\u3000h"]


def test_collapsed_lower_agrees(spark):
    rows, sp, dk = _engines(spark, TEXTS)
    for i, text in rows:
        if text is None:
            assert sp[i][1] is None and dk[i][1] is None
            continue
        # the collapse is the lowercased tokens joined by one space
        assert sp[i][1] == dk[i][1] == " ".join(token_array_py(text.lower())), i


def test_split_of_lowered_text_is_lowered_tokens():
    """``token_array_sql("lower(text)")`` replaces lowering each token:
    lowercasing never makes or removes a [ \\t\\n\\r] character."""
    for text in TEXTS + SPLIT_ONLY:
        assert token_array_py(text.lower()) == [t.lower() for t in token_array_py(text)]
