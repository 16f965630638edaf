"""Winnowing document fingerprints — LOCAL overlap detection
(Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms for
Document Fingerprinting", SIGMOD 2003 — the MOSS fingerprint selector;
public method).

The dedup family covers three regimes already: exact (md5 documents),
global near-dup (MinHash/SimHash — whole-document Jaccard), and
byte-region storage dedup (CDC). Winnowing covers the fourth: PARTIAL
textual overlap — two documents sharing one lifted passage (a quoted
paragraph, a syndicated article inside different page chrome) have
near-zero global Jaccard, so LSH never pairs them, but winnowing
GUARANTEES any shared run of at least w + k - 1 normalized characters
contributes at least one common fingerprint.

Algorithm (paper §4): hash every k-gram of the normalized text, slide
a window of w consecutive k-gram hashes, select the minimum hash of
each window breaking ties toward the RIGHTMOST position; the distinct
selected (hash, position) set is the fingerprint sketch. Expected
density 2/(w+1) of all grams — the storage/guarantee trade-off knob.

Engine mapping — built-ins only, no Python in the row path:

* **k-gram hashes** are one map-side projection: posexplode over a
  transform(sequence) of 28-bit md5 prefixes (``functions/hashing.py``,
  the cross-engine hash the MinHash base uses too).
* **rightmost-min selection** needs argmin-with-tiebreak inside a
  sliding frame, which neither engine's window-min gives directly; both
  get it from ONE min() by packing (hash, position) into a single
  int64: key = h * 2^POS_BITS + (2^POS_BITS - 1 - pos). min(key)
  minimizes h first and, among equal h, MAXIMIZES pos — the paper's
  rightmost rule — and the winner unpacks by div/mod. 28-bit h +
  24-bit pos = 52 bits; a production corpus with >16M-char documents
  widens POS_BITS (int64 holds h + 34-bit positions).
* **the frame** is ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING,
  partitioned BY DOCUMENT — per-doc windows, no cross-doc exchange
  beyond the initial hash repartition; count(*) over the same frame
  filters incomplete trailing windows so both engines select from
  complete windows only.
* **overlap pairs** join selected hashes doc-to-doc inside hash
  buckets (never all-pairs), with the repo's hot-key guard: a
  fingerprint selected in more than WINNOW_HOT_DOCS documents is
  boilerplate and is dropped before the join, capping any bucket's
  pair fan-out at WINNOW_HOT_DOCS^2.

At 100 TB: fingerprinting is map-only per doc (the window runs inside
a per-doc partition-local sort), the sketch is ~2/(w+1) * n_grams
8-byte rows per doc — the only thing that ever shuffles — and the pair
join is bucket-local with guarded fan-out. Raw text never leaves the
scan.

Reference parity note: the reference has no dedup at all; this extends
the beyond-reference training-data family (SURVEY §2 mandate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_sql
from metadata_quality_stack_spark.functions.text import collapsed_lower, collapsed_lower_sql

WINNOW_K = 20  # k-gram length (normalized chars)
WINNOW_W = 8  # window: guarantee threshold t = w + k - 1 = 27 chars
POS_BITS = 24  # position field width inside the packed key
WINNOW_HOT_DOCS = 25  # fingerprint in more docs than this = boilerplate
WINNOW_MIN_SHARED = 3  # pair readout: min common fingerprints

_POS_M = 1 << POS_BITS


def _gram_hashes(norm):
    """Array of 28-bit k-gram hashes at every position (index = pos).
    substr inside the HOF is O(k) per element — total O(len*k), the
    honest cost of per-position grams (not the gopher O(T^2) trap)."""
    idx = F.sequence(F.lit(1), F.length(norm) - F.lit(WINNOW_K - 1))
    grams = F.transform(
        idx,
        lambda i: md5_int(norm.substr(i, F.lit(WINNOW_K)), 7),
    )
    return F.when(F.length(norm) >= WINNOW_K, grams).otherwise(
        F.array().cast("array<long>")
    )


def selected_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, sel_pos, sel_h): the winnowed fingerprint set — the
    rightmost-minimum of every complete w-window of k-gram hashes."""
    from pyspark.sql import Window

    norm = collapsed_lower(F.col("text"))
    g = docs.select(
        "doc_id", F.posexplode(_gram_hashes(norm)).alias("pos", "h")
    )
    key = F.col("h") * _POS_M + (F.lit(_POS_M - 1) - F.col("pos"))
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    win = g.select(
        "doc_id",
        F.min(key).over(frame).alias("winkey"),
        F.count(F.lit(1)).over(frame).alias("cnt"),
    ).filter(F.col("cnt") == WINNOW_W)
    return win.select(
        "doc_id",
        (F.lit(_POS_M - 1) - F.col("winkey").bitwiseAND(F.lit(_POS_M - 1)))
        .cast("long")
        .alias("sel_pos"),
        F.shiftright("winkey", POS_BITS).cast("long").alias("sel_h"),
    ).distinct()


def _sel_sql() -> str:
    """Shared CTE chain ending in sel(doc_id, sel_pos, sel_h)."""
    return f"""nd AS (
  SELECT doc_id, {collapsed_lower_sql("text")} AS norm FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos,
         {md5_int_sql(f"substr(norm, i, {WINNOW_K})", 7)} AS h
  FROM nd, unnest(generate_series(1, greatest(length(norm) - {WINNOW_K} + 1, 0))) AS t(i)),
keys AS (
  SELECT doc_id, pos, h * {_POS_M} + ({_POS_M - 1} - pos) AS key FROM g),
win AS (
  SELECT doc_id,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS winkey,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS cnt
  FROM keys),
sel AS (
  SELECT DISTINCT doc_id, ({_POS_M - 1} - (winkey % {_POS_M}))::BIGINT AS sel_pos,
         (winkey // {_POS_M})::BIGINT AS sel_h
  FROM win WHERE cnt = {WINNOW_W})"""


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Per-doc sketch stats: (doc_id, n_grams, n_windows, n_selected).
    n_selected / n_windows ~ 2/(w+1) (paper §4 density bound); docs
    shorter than the guarantee threshold keep a zero row (hostile-row
    rule: empty/null/short text must not vanish from the readout)."""
    norm = collapsed_lower(F.col("text"))
    n_grams = F.greatest(F.length(norm) - F.lit(WINNOW_K - 1), F.lit(0))
    base = docs.select(
        "doc_id",
        n_grams.cast("long").alias("n_grams"),
        F.greatest(n_grams - F.lit(WINNOW_W - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    per = (
        selected_fingerprints(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_windows",
        F.coalesce(F.col("n_selected"), F.lit(0))
        .cast("long")
        .alias("n_selected"),
    )


def winnow_fingerprints_sql() -> str:
    return f"""WITH {_sel_sql()},
per AS (SELECT doc_id, count(*)::BIGINT AS n_selected FROM sel GROUP BY doc_id)
SELECT d.doc_id,
       greatest(length(d.norm) - {WINNOW_K - 1}, 0)::BIGINT AS n_grams,
       greatest(length(d.norm) - {WINNOW_K + WINNOW_W - 2}, 0)::BIGINT AS n_windows,
       coalesce(p.n_selected, 0)::BIGINT AS n_selected
FROM nd d LEFT JOIN per p USING (doc_id)
"""


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >= min_shared
    distinct selected fingerprints — partial-overlap candidates the
    global-Jaccard dedup family cannot see. Bucket join on sel_h with
    the hot-fingerprint guard; never all-pairs."""
    sel = (
        selected_fingerprints(docs).select("doc_id", "sel_h").distinct()
    )
    ok = (
        sel.groupBy("sel_h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") <= WINNOW_HOT_DOCS)
        .select("sel_h")
    )
    s = sel.join(ok, "sel_h")
    a = s.select(F.col("doc_id").alias("doc_a"), "sel_h")
    b = s.select(F.col("doc_id").alias("doc_b"), "sel_h")
    return (
        a.join(b, "sel_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_overlap_pairs_sql() -> str:
    return f"""WITH {_sel_sql()},
sel2 AS (SELECT DISTINCT doc_id, sel_h FROM sel),
ok AS (SELECT sel_h FROM sel2 GROUP BY sel_h HAVING count(*) <= {WINNOW_HOT_DOCS}),
s AS (SELECT doc_id, sel_h FROM sel2 JOIN ok USING (sel_h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
FROM s a JOIN s b ON a.sel_h = b.sel_h AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""
