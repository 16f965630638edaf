"""Text retrieval over the corpus: BM25 top-k.

Where the similarity family (operators/similarity.py) retrieves by
embedding, this retrieves by lexical match — the tool a curation run
reaches for when auditing decontamination ("which training docs look
like this eval question?"), pulling exemplars for a quality-classifier
seed set, or spot-checking what a filter family dropped.

Gate-exactness: classic BM25 needs ln(idf) and float k1/b arithmetic —
and ln is NOT correctly-rounded-identical across libm implementations,
so a float BM25 can hash-mismatch between engines. This variant is
exactly rankable cross-engine: Robertson's rational idf WITHOUT the log,

    idf_micros = ((2N - 2·df + 1) · 10^6) div (2·df + 1)

and the k1 = 6/5, b = 3/4 saturation folded into one integer quotient
(multiply through by 20·S with S = total corpus tokens, N = corpus
docs, dl = doc length):

    score(t, d) = idf_micros(t) · 44·S·tf div (20·S·tf + 6·S + 18·dl·N)

Per-doc score = SUM over query terms — an order-free BIGINT sum.
Monotonicity in tf and df matches log-BM25, so rankings are sane; the
absolute numbers are the documented variant's, not Okapi's. int64
bounds: idf_micros·44·S·tf stays under 2^63 up to ~10^8-doc corpora;
beyond that the production path scores in doubles (ranking only needs
per-doc comparison, not cross-engine hashes).

Scale shape: postings are pre-filtered to the query's terms BEFORE the
(doc_id, term) aggregation (broadcast literal IN-list on the scan
projection), so the exchanges carry only matching rows; df and the
(N, S) corpus scalars broadcast back; top-k is TakeOrdered, never a
global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.text import token_array, token_array_sql

MICRO = 1_000_000
TOP_TERMS_K = 5

# the gate-exact rational-idf BM25 term score (see module docstring);
# shared verbatim by the inline scorer below and the persistent
# inverted index (sources/text_index.py) so the two cannot drift
BM25_SCORE_EXPR = (
    f"(((2 * n_corpus - 2 * df + 1) * {MICRO}) div (2 * df + 1))"
    " * (44 * s_tokens * tf)"
    " div (20 * s_tokens * tf + 6 * s_tokens + 18 * dl * n_corpus)"
)


def bm25_topk(docs: DataFrame, query: list[str], k: int = 10) -> DataFrame:
    """Top-``k`` documents for ``query`` terms under the gate-exact
    rational-idf BM25 above (ties -> lowest doc_id). Query terms are
    lowercased and deduplicated; docs matching no term never leave
    their scan partition.

    Columns: doc_id, n_terms_hit, score_micros."""
    terms = sorted({t.lower() for t in query if t})
    if not terms:
        raise ValueError("bm25_topk needs at least one non-empty term")
    lows = F.transform(
        token_array(F.coalesce(F.col("text"), F.lit(""))),
        lambda x: F.lower(x),
    )
    base = docs.select(
        "doc_id",
        F.size(lows).cast("long").alias("dl"),
        F.explode(lows).alias("term"),
    ).filter(F.col("term").isin(terms))
    tfs = base.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )
    dfs = tfs.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = docs.agg(
        F.count("*").alias("n_corpus"),
        F.sum(F.size(lows)).cast("long").alias("s_tokens"),
    )
    scored = (
        tfs.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(BM25_SCORE_EXPR).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_hit"),
            F.sum("term_score").cast("long").alias("score_micros"),
        )
    )
    return scored.orderBy(
        F.desc("score_micros"), F.asc("doc_id")
    ).limit(k)


def bm25_topk_sql(query: list[str], k: int = 10) -> str:
    """DuckDB mirror (same tokenization, same integer quotients)."""
    from metadata_quality_stack_spark.operators.textops import _sql_list

    terms = sorted({t.lower() for t in query if t})
    lows = token_array_sql("lower(text)")
    return f"""
WITH tok AS (
  SELECT doc_id, len({lows}) AS dl, unnest({lows}) AS term FROM documents
),
m AS (SELECT * FROM tok WHERE list_contains({_sql_list(terms)}, term)),
tfs AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
        FROM m GROUP BY 1, 2),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfs GROUP BY 1),
st AS (SELECT count(*) AS n_corpus,
              sum(coalesce(len({lows}), 0))::BIGINT AS s_tokens
       FROM documents),
sc AS (
  SELECT doc_id,
    (((2 * n_corpus - 2 * df + 1) * {MICRO}) // (2 * df + 1))
      * (44 * s_tokens * tf)
      // (20 * s_tokens * tf + 6 * s_tokens + 18 * dl * n_corpus)
      AS term_score
  FROM tfs JOIN dfs USING (term) CROSS JOIN st
)
SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
       sum(term_score)::BIGINT AS score_micros
FROM sc GROUP BY doc_id
ORDER BY score_micros DESC, doc_id ASC LIMIT {k}
"""


def domain_top_terms(docs: DataFrame, k: int = TOP_TERMS_K) -> DataFrame:
    """Per-domain characteristic vocabulary: top-``k`` terms by integer
    tf-idf where df is counted over DOMAINS (not docs) — the curation
    diagnostic for "what is this source actually about" before capping
    or mixing it. Same gate-exact rational idf as BM25 (module
    docstring), tf left raw (domain-level term counts are the signal).

    Scale shape: the (source, term) census is map-side combined; the df
    join is term-keyed on census rows (never text); the top-k window is
    PARTITIONED by source so no global sort ever materializes.

    Columns: source, term, tf, tfidf_micros, rnk.
    """
    from pyspark.sql import Window

    lows = F.transform(
        token_array(F.coalesce(F.col("text"), F.lit(""))),
        lambda x: F.lower(x),
    )
    tok = (
        docs.filter(F.col("source").isNotNull())
        .select("source", F.explode(lows).alias("term"))
    )
    tfs = tok.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfs = tfs.groupBy("term").agg(
        F.countDistinct("source").alias("df")
    )
    nd = docs.filter(F.col("source").isNotNull()).agg(
        F.countDistinct("source").alias("n_domains")
    )
    idf = F.expr(
        f"((2 * n_domains - 2 * df + 1) * {MICRO}) div (2 * df + 1)"
    )
    scored = (
        tfs.join(dfs, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "source",
            "term",
            "tf",
            (F.col("tf") * idf).cast("long").alias("tfidf_micros"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("tfidf_micros"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def domain_top_terms_sql() -> str:
    lows = token_array_sql("lower(text)")
    return f"""
WITH tok AS (
  SELECT source, unnest({lows}) AS term FROM documents
  WHERE source IS NOT NULL
),
tfs AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(DISTINCT source) AS df FROM tfs GROUP BY 1),
nd AS (SELECT count(DISTINCT source) AS n_domains FROM documents
       WHERE source IS NOT NULL),
sc AS (
  SELECT source, term, tf,
    tf * (((2 * n_domains - 2 * df + 1) * {MICRO}) // (2 * df + 1))
      AS tfidf_micros
  FROM tfs JOIN dfs USING (term) CROSS JOIN nd
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY tfidf_micros DESC, term ASC) AS rnk
  FROM sc
)
SELECT source, term, tf::BIGINT AS tf,
       tfidf_micros::BIGINT AS tfidf_micros, rnk::BIGINT AS rnk
FROM rk WHERE rnk <= {TOP_TERMS_K}
"""
