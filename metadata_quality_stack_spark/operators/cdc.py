"""Content-defined chunking (CDC) — storage-level dedup at
sub-document granularity (Muthitacharoen, Chen, Mazieres, "A Low-
Bandwidth Network File System", SOSP 2001 — the rolling-hash chunking
LBFS introduced; public method).

Exact-dedup (dedup.py) only catches byte-identical DOCUMENTS; CDC
catches byte-identical REGIONS across otherwise-different documents
(boilerplate headers, quoted emails, license blocks, recrawled pages
with one edited paragraph) because chunk boundaries are chosen by
CONTENT — a rolling hash over the last W characters hitting a residue —
so an insertion only re-chunks its local neighborhood instead of
shifting every boundary after it (the fixed-size-blocks failure).

Scale shape:

* **chunking** is map-only: each document produces its (boundary,
  chunk-hash, chunk-length) list in one projection; the raw text never
  leaves the scan stage.
* **the dedup census** shuffles (md5, length) pairs — 16-byte hashes,
  never chunk bytes — into one groupBy; the duplicated minority joins
  back nothing (stats only), so the exchange is O(total chunks) tiny
  fixed-width rows. Same asymmetry as dup_ngram_fraction.
* **arithmetic** is pure integer: the window hash is a polynomial
  sum(code_j * B^j) % P with per-term magnitudes bounded under 2^63
  (max codepoint 0x10FFFF * B^(W-1) * W < 9e15), so both engines emit
  identical bits with no rounding discipline needed.

The window hash is built as W zip_with stages over shifted slices of a
STAGED codepoint array (the word_ngrams pattern — HOF arguments bind
once per row; an element_at-into-expression formulation re-evaluates
the whole subtree per element under interpreted HOF eval, the measured
O(T^2) trap). This is O(len*W) work per doc.

No min/max chunk-size clamps (documented simplification — production
CDC adds them to bound the chunk-size distribution; they would be two
extra filter terms on the same boundary array).

Reference parity note: the reference has no storage-level dedup;
beyond-reference training-data family (exact/fuzzy dedup: dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CDC_W = 8  # rolling window (chars)
CDC_B = 31  # polynomial base
CDC_P = 1_000_003  # modulus (prime)
CDC_D = 64  # boundary divisor -> expected chunk ~64 chars


def _codes(text: Column) -> Column:
    """array<bigint> of codepoints — ascii() per position (char-based
    indexing both engines; agreed codepoint semantics probe-verified)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(F.substr(text, i, F.lit(1))).cast("bigint"),
    )


def _window_hashes(codes: Column, n: Column) -> Column:
    """h_k = (sum_{j=1..W} codes[k+j-1] * B^(W-j)) % P for each of the
    m = n-W+1 windows — W-1 zip_with stages over shifted slices."""
    m = n - (CDC_W - 1)
    acc = F.transform(
        F.slice(codes, 1, m), lambda x: x * F.lit(CDC_B ** (CDC_W - 1))
    )
    def _fma(mult: int):
        # closure factory, NOT a default-arg lambda: pyspark counts
        # default args as lambda arity (verify-skill gotcha)
        return lambda a, b: a + b * F.lit(mult)

    for j in range(2, CDC_W + 1):
        acc = F.zip_with(acc, F.slice(codes, j, m), _fma(CDC_B ** (CDC_W - j)))
    return F.transform(acc, lambda h: h % CDC_P)


def chunk_bounds(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, ends): chunk END positions (1-based,
    inclusive; last element is always n_chars). Docs with null/empty
    text get an empty ends array. Boundary rule: the window ENDING at
    position e >= W is a cut iff its hash % D == 0."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    staged = docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        _codes(t).alias("codes"),
    )
    n = F.col("n_chars")
    hs = F.when(n >= CDC_W, _window_hashes(F.col("codes"), n)).otherwise(
        F.array().cast("array<bigint>")
    )
    staged = staged.select("doc_id", "n_chars", hs.alias("hs"))
    cut_ends = F.filter(
        F.zip_with(
            F.col("hs"),
            F.sequence(F.lit(CDC_W), F.greatest(n, F.lit(CDC_W))),
            lambda h, e: F.when(h % CDC_D == 0, e),
        ),
        lambda x: x.isNotNull(),
    )
    ends = F.when(n == 0, F.array().cast("array<bigint>")).otherwise(
        F.when(
            F.try_element_at(cut_ends, F.lit(-1)) == n, cut_ends
        ).otherwise(F.concat(cut_ends, F.array(n.cast("bigint"))))
    )
    return staged.select("doc_id", "n_chars", ends.alias("ends"))


def _chunks(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pos, chunk): exploded chunk substrings. Computed off a
    staged ends column so the per-chunk lambda binds attributes only."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    b = chunk_bounds(docs, text_col).join(
        docs.select("doc_id", t.alias("_t")), "doc_id"
    )
    prev = lambda i: F.when(i == 0, F.lit(0).cast("bigint")).otherwise(  # noqa: E731
        F.element_at(F.col("ends"), i)
    )
    chunks = F.transform(
        F.col("ends"),
        lambda e, i: F.substr(
            F.col("_t"),
            (prev(i) + 1).cast("int"),
            (e - prev(i)).cast("int"),
        ),
    )
    return b.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))


def cdc_chunk_stats(docs: DataFrame) -> DataFrame:
    """Per-doc chunking readout: (doc_id, n_chars, n_chunks,
    max_chunk_len). Chunk lengths derive from the ends array alone —
    no substrings materialize for the stats path."""
    b = chunk_bounds(docs, "text")
    lens = F.zip_with(
        F.col("ends"),
        F.concat(F.array(F.lit(0).cast("bigint")), F.slice(
            F.col("ends"), 1, F.greatest(F.size("ends") - 1, F.lit(0))
        )),
        lambda e, p: e - p,
    )
    return b.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size("ends").cast("long").alias("n_chunks"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("long").alias(
            "max_chunk_len"
        ),
    )


def cdc_dedup_ratio(docs: DataFrame) -> DataFrame:
    """Corpus-level chunk-dedup readout (1 row): total_chunks,
    distinct_chunks, dup_chunks (occurrences beyond first per content),
    total_bytes, dup_bytes, dup_bytes_ppm. Only (md5, len) pairs
    shuffle."""
    ch = _chunks(docs, "text").select(
        F.md5(F.col("chunk")).alias("h"),
        F.length("chunk").cast("long").alias("len"),
    )
    census = ch.groupBy("h", "len").agg(F.count("*").alias("cnt"))
    return census.agg(
        F.sum("cnt").cast("long").alias("total_chunks"),
        F.count("*").cast("long").alias("distinct_chunks"),
        F.sum(F.col("cnt") - 1).cast("long").alias("dup_chunks"),
        F.sum(F.col("cnt") * F.col("len")).cast("long").alias("total_bytes"),
        F.sum((F.col("cnt") - 1) * F.col("len")).cast("long").alias(
            "dup_bytes"
        ),
        F.expr(
            "sum((cnt - 1) * len) * 1000000 div "
            "greatest(sum(cnt * len), 1)"
        ).cast("long").alias("dup_bytes_ppm"),
    )


# ----------------------------------------------------------------------
# DuckDB oracle mirrors
# ----------------------------------------------------------------------
def _ends_cte(table: str, prefix: str = "") -> str:
    """{prefix}bounds AS (doc_id, n_chars, ends): the chunk-end list
    per doc. ``prefix`` namespaces the CTEs so two corpora can be
    chunked in one statement (the chunk-index cycle oracle)."""
    poly = " + ".join(
        f"ascii(t[k + {j + 1}])::BIGINT * {CDC_B ** (CDC_W - 1 - j)}"
        for j in range(CDC_W)
    )
    return f"""{prefix}src AS MATERIALIZED (
  SELECT doc_id, coalesce(text, '') AS t FROM {table}),
{prefix}bounds AS MATERIALIZED (
  SELECT doc_id, length(t) AS n_chars,
    CASE WHEN length(t) = 0 THEN []::BIGINT[]
    ELSE (
      CASE WHEN len(cuts) > 0 AND cuts[-1] = length(t) THEN cuts
           ELSE list_append(cuts, length(t)::BIGINT) END)
    END AS ends
  FROM (
    SELECT doc_id, t,
      CASE WHEN length(t) >= {CDC_W} THEN
        list_filter(
          list_transform(generate_series(0, length(t) - {CDC_W}),
            k -> CASE WHEN (({poly}) % {CDC_P}) % {CDC_D} = 0
                 THEN (k + {CDC_W})::BIGINT END),
          x -> x IS NOT NULL)
      ELSE []::BIGINT[] END AS cuts
    FROM {prefix}src))"""


def cdc_chunk_stats_sql() -> str:
    return f"""WITH {_ends_cte("documents")}
SELECT doc_id, n_chars::BIGINT AS n_chars, len(ends)::BIGINT AS n_chunks,
  coalesce(list_max(list_transform(generate_series(1, len(ends)),
    i -> ends[i] - CASE WHEN i = 1 THEN 0 ELSE ends[i - 1] END)), 0)::BIGINT
    AS max_chunk_len
FROM bounds
"""


def cdc_dedup_ratio_sql() -> str:
    return f"""WITH {_ends_cte("documents")},
{_chunks_cte()},
census AS (SELECT h, len, count(*) AS cnt FROM chunks GROUP BY h, len)
SELECT sum(cnt)::BIGINT AS total_chunks,
  count(*)::BIGINT AS distinct_chunks,
  sum(cnt - 1)::BIGINT AS dup_chunks,
  sum(cnt * len)::BIGINT AS total_bytes,
  sum((cnt - 1) * len)::BIGINT AS dup_bytes,
  (sum((cnt - 1) * len)::BIGINT * 1000000
     // greatest(sum(cnt * len)::BIGINT, 1)) AS dup_bytes_ppm
FROM census
"""


def _chunks_cte(prefix: str = "") -> str:
    """{prefix}chunks AS (doc_id, h, len) — follows _ends_cte(prefix)."""
    return f"""{prefix}chunks AS MATERIALIZED (
  SELECT doc_id, md5(c) AS h, length(c)::BIGINT AS len FROM (
    SELECT b.doc_id, unnest(list_transform(generate_series(1, len(b.ends)),
      i -> s.t[(CASE WHEN i = 1 THEN 0 ELSE b.ends[i - 1] END + 1)::INT
               : b.ends[i]::INT])) AS c
    FROM {prefix}bounds b JOIN {prefix}src s USING (doc_id)))"""
