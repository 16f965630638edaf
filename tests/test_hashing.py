"""The md5-prefix hash agrees across Spark, DuckDB and Python on hostile
inputs (empty, whitespace, non-ASCII, mixed-script, emoji, 1 MB), at
every width and digit offset the package uses, and null stays null in
both engines."""

import duckdb
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import (
    md5_int,
    md5_int_py,
    md5_int_sql,
)

TEXTS = [
    "",
    " \t\n\r ",
    "café naïve façade",
    "Straße Москва 東京 مرحبا नमस्ते",
    "👍🏽 🚀 family: 👨‍👩‍👧",
    "x" * 1_000_000,
]
# (n_hex, start): the 8-bit term bucket, the 28-bit bucket base, the
# 60-bit hash, and the count-min rows' offsets into one digest
WIDTHS = [(2, 1), (7, 1), (15, 1), (15, 5), (15, 9), (15, 13)]


def _col(n, s):
    return f"h_{n}_{s}"


def test_three_engines_agree(spark):
    rows = list(enumerate(TEXTS)) + [(len(TEXTS), None)]
    df = spark.createDataFrame(rows, "i int, s string")
    sp = {
        r.i: r
        for r in df.select(
            "i", *[md5_int(F.col("s"), n, s).alias(_col(n, s)) for n, s in WIDTHS]
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cols = ", ".join(f"{md5_int_sql('s', n, s)} AS {_col(n, s)}" for n, s in WIDTHS)
    dk = {r[0]: r[1:] for r in con.execute(f"SELECT i, {cols} FROM t").fetchall()}

    for i, text in rows:
        for k, (n, s) in enumerate(WIDTHS):
            got_spark, got_duck = sp[i][_col(n, s)], dk[i][k]
            if text is None:
                assert got_spark is None and got_duck is None
                continue
            want = md5_int_py(text, n, s)
            assert got_spark == got_duck == want, (i, n, s)
            assert 0 <= want < 16**n


def test_start_is_a_one_based_digit_offset():
    """``start`` counts hex digits of the digest from 1."""
    digest = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
    assert md5_int_py("", 2) == 0xD4
    assert md5_int_py("", 2, 3) == 0x1D
    assert md5_int_py("", 15, 13) == int(digest[12:27], 16)
