"""The md5-prefix hash, once per engine.

Every content-keyed bucket, sample split, shard, sketch hash and MinHash
base in the package is the same integer: ``n_hex`` hex digits of
``md5(utf8(x))`` starting at digit ``start`` (1-based), read as base 16.
Spark computes it in the plan, the DuckDB oracle in SQL and the driver
in Python (a probe's partition literals, a sketch's query cells), and
the three must agree bit for bit. This module is the only place that
spells the format; callers apply their own modulus.

``n_hex`` <= 15 keeps the value inside a signed 64-bit integer (the
60-bit hash of the sketches is 15 digits, the 28-bit bucket base 7).
A null input hashes to null in both engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex_int(hex_col: Column | str, n_hex: int, start: int = 1) -> Column:
    """``n_hex`` digits of a hex-string column from ``start``, as a long."""
    return F.conv(F.substring(hex_col, start, n_hex), 16, 10).cast("long")


def md5_int(col: Column, n_hex: int, start: int = 1) -> Column:
    """:func:`hex_int` over the md5 of the column's UTF-8 bytes."""
    return hex_int(F.md5(F.encode(col, "UTF-8")), n_hex, start)


def h60(col: Column) -> Column:
    """The 60-bit hash (``md5_int(col, 15)``) as a one-argument function,
    for callers that pass the hash itself around (``urlops._h60_url``)."""
    return md5_int(col, 15)


def hex_int_sql(expr: str, n_hex: int, start: int = 1) -> str:
    """DuckDB twin of :func:`hex_int` over a hex-string SQL expression."""
    return f"('0x' || substr({expr}, {start}, {n_hex}))::BIGINT"


def md5_int_sql(expr: str, n_hex: int, start: int = 1) -> str:
    """DuckDB twin of :func:`md5_int` (DuckDB's md5 hashes UTF-8 bytes)."""
    return hex_int_sql(f"md5({expr})", n_hex, start)


def md5_int_py(s: str, n_hex: int, start: int = 1) -> int:
    """Python twin of :func:`md5_int`, for driver-side literals."""
    digest = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(digest[start - 1 : start - 1 + n_hex], 16)
