"""Persistent inverted text index: postings on disk, BM25 probes that
read only the query's buckets.

`operators/retrieval.py:bm25_topk` tokenizes the corpus per query —
right for an audit one-off, wrong for a retrieval endpoint. Production
keeps a standing INVERTED INDEX and each query touches only the
postings of its own terms. This module is that index, following the
`dedup_index` lifecycle (build / append / probe / scratch-dir gate):

* **layout** — one parquet postings table (term, doc_id, tf, dl),
  partition-dirred by a driver-computable term bucket (two md5 hex
  digits % N, ``functions/hashing.py``) and written through
  ``sources/store.py``, rows sorted by term within each file so parquet
  row-group min/max stats prune inside a bucket too. A probe for Q terms
  reads at most Q bucket dirs: the scan cost is O(matching postings),
  independent of corpus size.
* **stats sidecar** — BM25 needs the corpus scalars (N docs, S total
  tokens); they live in `_stats/` (underscore-hidden from partition
  discovery), read through ``store.read_sidecar`` and broadcast. Append
  updates them arithmetically — no corpus re-scan.
* **append contract** — the caller feeds only NEW documents (pair with
  dedup_index for that guarantee); appending an already-indexed doc
  would double its postings. Appends create one file per touched
  bucket (pre-write repartition on the bucket column), and
  `compact_text_index` merges per-bucket files back to one, re-sorted.
* **scoring** — the SAME integer rational-idf expression as the inline
  scorer (imported, not copied), so index-vs-inline results are
  bit-identical and the DuckDB logical-BM25 SQL oracles both. df comes
  from the probed postings themselves — a term's postings live wholly
  inside its bucket, so pruned df equals global df.

At 10^12 documents the postings table is the token census (~10x corpus
row count, tiny rows); bucket count scales up and an Iceberg layout
adds file-level term ranges, but the probe plan — prune buckets, scan
matching postings, two bounded aggs, TakeOrdered — is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_py
from metadata_quality_stack_spark.functions.text import token_array
from metadata_quality_stack_spark.operators.retrieval import BM25_SCORE_EXPR
from metadata_quality_stack_spark.sources import store

TERM_BUCKETS = 32


def _lows() -> F.Column:
    return F.transform(
        token_array(F.coalesce(F.col("text"), F.lit(""))),
        lambda x: F.lower(x),
    )


def _postings(docs: DataFrame) -> DataFrame:
    lows = _lows()
    tok = docs.select(
        "doc_id",
        F.size(lows).cast("long").alias("dl"),
        F.explode(lows).alias("term"),
    )
    return tok.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )


def _write(postings: DataFrame, index_dir: str, mode: str) -> None:
    store.write_partitioned(
        postings.withColumn(
            "term_bucket", (md5_int(F.col("term"), 2) % TERM_BUCKETS).cast("int")
        ),
        index_dir, "term_bucket", mode, sort_col="term",
    )


def _write_stats(
    spark: SparkSession, index_dir: str, n_corpus: int, s_tokens: int
) -> None:
    spark.createDataFrame(
        [(int(n_corpus), int(s_tokens))], "n_corpus long, s_tokens long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/_stats")


def read_stats(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    stats = store.read_sidecar(spark, f"{index_dir}/_stats")
    if stats is None:
        raise FileNotFoundError(f"no text index at {index_dir}")
    r = stats.first()
    return int(r.n_corpus), int(r.s_tokens)


def build_text_index(docs: DataFrame, index_dir: str) -> None:
    """Initialize: tokenize once, write postings + the stats sidecar."""
    lows = _lows()
    _write(_postings(docs), index_dir, "overwrite")
    st = docs.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size(lows)), F.lit(0)).cast("long").alias("s"),
    ).first()
    _write_stats(docs.sparkSession, index_dir, st.n, st.s)


def append_text_index(new_docs: DataFrame, index_dir: str) -> None:
    """Add NEW documents: append their postings (one file per touched
    bucket), bump the stats scalars arithmetically."""
    spark = new_docs.sparkSession
    lows = _lows()
    _write(_postings(new_docs), index_dir, "append")
    n0, s0 = read_stats(spark, index_dir)
    st = new_docs.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size(lows)), F.lit(0)).cast("long").alias("s"),
    ).first()
    _write_stats(spark, index_dir, n0 + st.n, s0 + st.s)


def compact_text_index(spark: SparkSession, index_dir: str) -> None:
    """Merge each bucket's append files back to one sorted file
    (dynamic partition overwrite, ``sources/store.py``). An index no
    posting reached has nothing to compact."""
    idx = store.read_table(spark, index_dir)
    if idx is None:
        return
    with store.dynamic_overwrite(spark):
        store.write_partitioned(
            idx, index_dir, "term_bucket", "overwrite", sort_col="term"
        )


def index_bm25_topk(
    spark: SparkSession, index_dir: str, query: list[str], k: int = 10
) -> DataFrame:
    """BM25 top-k off the index: prune to the query's buckets (literal
    partition filter, no job needed to compute it), score with the
    shared integer expression. Columns: doc_id, n_terms_hit,
    score_micros — bit-identical to the inline scorer."""
    terms = sorted({t.lower() for t in query if t})
    if not terms:
        raise ValueError("index_bm25_topk needs at least one non-empty term")
    # the same bucket as _write's, computed on the driver: no job
    buckets = sorted({md5_int_py(t, 2) % TERM_BUCKETS for t in terms})
    n_corpus, s_tokens = read_stats(spark, index_dir)  # raises on a missing index
    postings = (
        store.read_table(spark, index_dir)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("term", "doc_id", "tf", "dl")
    )
    dfs = postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        postings.join(F.broadcast(dfs), "term")
        .withColumn("n_corpus", F.lit(n_corpus))
        .withColumn("s_tokens", F.lit(s_tokens))
        .select("doc_id", F.expr(BM25_SCORE_EXPR).alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_hit"),
            F.sum("term_score").cast("long").alias("score_micros"),
        )
    )
    return scored.orderBy(F.desc("score_micros"), F.asc("doc_id")).limit(k)


def index_topk_cycle(
    spark: SparkSession, docs: DataFrame, query: list[str], k: int = 10
) -> DataFrame:
    """Gate lifecycle: BUILD from the full corpus into a scratch dir,
    PROBE, return. Logical answer = inline BM25 over the same corpus
    (the index is lossless), which is what bm25_topk_sql states."""
    with store.scratch_dir("text_index_gate_") as index_dir:
        build_text_index(docs, index_dir)
        return index_bm25_topk(spark, index_dir, query, k).localCheckpoint(
            eager=True
        )


def index_incremental_topk_cycle(
    spark: SparkSession, docs: DataFrame, query: list[str], k: int = 10
) -> DataFrame:
    """Gate lifecycle for the APPEND path: build from the even half,
    append the odd half, compact, probe. Must equal inline BM25 over
    the WHOLE corpus — proves append maintains postings and the stats
    scalars exactly (same oracle as index_topk_cycle)."""
    with store.scratch_dir("text_index_gate_") as index_dir:
        build_text_index(docs.filter(F.col("doc_id") % 2 == 0), index_dir)
        append_text_index(docs.filter(F.col("doc_id") % 2 == 1), index_dir)
        compact_text_index(spark, index_dir)
        return index_bm25_topk(spark, index_dir, query, k).localCheckpoint(
            eager=True
        )
