"""Gate driver contract (PySpark target).

``entry(spark)`` runs the flagship native quality pipeline on sf0.001.
``queries()`` and ``oracle_sql()`` are two views of one registry,
``_registry()``: an ordered dict from query name to ``(spark_fn, sql)``,
where ``spark_fn(spark, sf_dir)`` builds the Spark answer and ``sql`` is the
DuckDB query that must return the same rows. Each gate query is written
once, its Spark function beside its oracle, so neither half can go missing
or drift under a second name. A uniform pair (an operator over the
documents table, checked against its ``_sql`` twin) is one ``_docs`` line
keyed by the operator's name. ``queries()`` reorders the names for the
driver's verification window (``_prioritize``); ``oracle_sql()`` keeps
registry order. The oracles are generated from the SAME rules-as-data
config wherever the semantics are shared (metadata_quality_stack_spark.
oracle.sqlgen).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_quality_stack_spark import config
from metadata_quality_stack_spark.functions.hashing import h60, hex_int_sql, md5_int_sql
from metadata_quality_stack_spark.functions.scrub import (
    apply_scrub,
    apply_toxicity,
    rare_token_scrub,
    rare_token_scrub_sql,
    scrub_sql_exprs,
    toxicity_sql_exprs,
)
from metadata_quality_stack_spark.functions.text import collapsed_lower_sql, token_array_sql
from metadata_quality_stack_spark.operators import (
    analytics,
    bloom,
    bpe,
    cdc,
    classifier,
    cms,
    contamination,
    dedup,
    dsir,
    gopher,
    graph,
    hll,
    micro_lm,
    multimodal,
    ngram_lm,
    pq,
    retrieval,
    sketches,
    sampling,
    similarity,
    textops,
    urlops,
    vocab,
    winnow,
)
from metadata_quality_stack_spark.operators.rules import (
    apply_quality,
    filter_scored,
    metric_report,
)
from metadata_quality_stack_spark.oracle import sqlgen
from metadata_quality_stack_spark.plans import curate
from metadata_quality_stack_spark.sources import (
    cdc_index,
    dedup_index,
    fuzzy_index,
    sink,
    text_index,
)

Query = Callable[[SparkSession, str], DataFrame]

EVENTS_START = "2024-01-05 00:00:00"
EVENTS_END = "2024-01-10 00:00:00"
JACCARD_MAX_DOC = 200  # pairwise stage is candidate-limited (see dedup.py)
JACCARD_MAX_DF = 10  # frequent-shingle pruning cap for the pruned variant
# vocab.load_vocab semantics on a CSV [src0..src4]: first row swallowed
ALLOWED_SOURCES = ["src1", "src2", "src3", "src4"]
# terms present in the synthetic documents vocabulary (nonzero gate counts)
GATE_TOXIC_TERMS = ["slow", "dup", "big"]
VOCAB_URI_PREFIX = "https://src.example/"
VOCAB_LABELS = ["rc1", "src2"]  # 'rc1' only matches by substring fallback
# end-to-end curation composite: score -> keep -> exact-dedup ->
# deterministic 50% sample -> per-source cap of 10
CURATE_ARGS = dict(meta_cols=analytics.DOC_META, sample_pct=50, per_source_cap=10)

# Deterministic crawl-style URL per document (documents.parquet carries no
# url column — north-rule pages are url-keyed, so the url ops synthesize
# one from doc_id/source with the SAME expression in Spark and DuckDB).
# The five suffix classes exercise every normalization step: trailing
# slash, all-tracking query, tracking-after-real-param, tracking-BEFORE-
# real-param (the separator-repair case), and a fragment; doc_id % 400
# forces genuine cross-form collisions for the dedup query.
BLOCKED_DOMAINS = ["src3.example.com", "src7.example.com", "src11.example.com"]
# BM25 gate query: common + mid-frequency + absent term (df=0 path)
BM25_QUERY = ["vector", "hash", "window", "nosuchterm"]
# deterministic capture time per doc as epoch seconds (BIGINT — dialect-
# shared; the operator orders any comparable ts type). doc_id strides on
# 13/7 guarantee same-url snapshots get distinct-looking times while
# leaving the doc_id tiebreak reachable.
SYN_WARC_TS_SQL = "1717200000 + (doc_id % 13) * 86400 + (doc_id % 7) * 3600"
SYN_URL_SQL = (
    "concat("
    "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'HTTPS://WWW.' "
    "WHEN 1 THEN 'http://www.' WHEN 2 THEN 'https://' ELSE 'http://' END, "
    "source, '.example.com/page/', CAST(doc_id % 400 AS STRING), "
    "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN '/' "
    "WHEN 1 THEN '?utm_source=feed&utm_campaign=c2' "
    "WHEN 2 THEN concat('?id=', CAST(doc_id % 7 AS STRING), '&utm_medium=x') "
    "WHEN 3 THEN concat('?utm_source=feed&ref=r', CAST(doc_id % 9 AS STRING)) "
    "ELSE '#section-2' END)"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.scored_documents(_t(spark, sf_dir, "documents"))


def _scored_nti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second scoring profile (NTI-RISP analog: different rule selection,
    budgets 100/50/105/40/15, thresholds 264/166/91; config.py)."""
    return apply_quality(
        _t(spark, sf_dir, "documents"),
        meta_cols=analytics.DOC_META,
        profile="webtext_nti_native",
    )


def _pages_with_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", F.expr(SYN_URL_SQL).alias("url")
    )


def _url_norm_pages(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """``cols`` of the documents plus the canonical synthetic url."""
    return _t(spark, sf_dir, "documents").select(
        *cols, urlops.normalize_url(F.expr(SYN_URL_SQL)).alias("url_norm")
    )


def _new_batch(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(new batch, existing corpus): the incremental-dedup gate split."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % dedup.NEW_BATCH_MOD == 0),
        docs.filter(F.col("doc_id") % dedup.NEW_BATCH_MOD != 0),
    )


def _shards(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The documents split into ``hll.SHARD_MOD`` shards by doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return [docs.filter(F.col("doc_id") % hll.SHARD_MOD == i) for i in range(hll.SHARD_MOD)]


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.attach_fake_media(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# entry: flagship — full native quality pipeline on sf0.001
# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scored = apply_quality(docs, meta_cols=analytics.DOC_META)
    return scored.select(
        "doc_id",
        "source",
        "lang",
        *config.DIMENSIONS,
        "total_score",
        "rating",
        "keep",
        F.array_join("drop_reasons", ",").alias("drop_reasons"),
    )


# --------------------------------------------------------------------------
# the contract: two views of one registry
# --------------------------------------------------------------------------
def queries() -> dict[str, Query]:
    return _prioritize({name: fn for name, (fn, _) in _registry().items()})


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _registry().items()}


def _docs(
    op: Callable[[DataFrame], DataFrame], op_sql: Callable[[], str], name: str = ""
) -> dict[str, tuple[Query, str]]:
    """A uniform pair: ``op`` over the documents table, checked against
    ``op_sql()``; keyed by the operator's name unless ``name`` is given."""
    return {name or op.__name__: (lambda s, d: op(_t(s, d, "documents")), op_sql())}


# --------------------------------------------------------------------------
# the registry, in natural query order
# --------------------------------------------------------------------------
def _registry() -> dict[str, tuple[Query, str]]:
    dims = config.DIMENSIONS
    # oracle pieces shared across sections
    scored = sqlgen.native_scoring_sql()
    scored_src = sqlgen.native_scoring_sql(extra_cols=("source",))
    scored_nti = sqlgen.native_scoring_sql(profile="webtext_nti_native")
    scored_full = sqlgen.native_scoring_sql(extra_cols=("source", "lang"))
    curate_cte = f"""WITH scored AS ({scored_full}),
kept AS (
  SELECT s.doc_id, s.source, s.lang, s.total_score, s.rating,
    md5(d.text) AS fingerprint
  FROM scored s JOIN documents d USING (doc_id) WHERE s.keep
),
uniq AS (
  SELECT doc_id, source, lang, total_score, rating, fingerprint FROM (
    SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
sampled AS (
  SELECT * FROM uniq
  WHERE {md5_int_sql('CAST(doc_id AS VARCHAR)', 7)} % 100 < {CURATE_ARGS['sample_pct']}
),
capped AS (
  SELECT doc_id, source, lang, total_score, rating, fingerprint FROM (
    SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn2
    FROM sampled
  ) WHERE rn2 <= {CURATE_ARGS['per_source_cap']}
)"""
    # signatures + banding at the k=8 gate operating point, ending in
    # bands(doc_id, band, bucket); the MinHash oracles build on it
    bands_cte = dedup.minhash_bands_cte_sql()
    # the shared synthetic url; the normalization chain is mirrored
    # step-for-step by urlops.normalize_url_sql
    syn_pages = f"SELECT doc_id, source, n_chars, {SYN_URL_SQL} AS url FROM documents"
    url_norm = urlops.normalize_url_sql("url")
    snap = (
        f"SELECT doc_id, text, {url_norm} AS url_norm "
        f"FROM (SELECT doc_id, text, {SYN_URL_SQL} AS url FROM documents)"
    )
    dpages = (
        f"SELECT doc_id, text, lang, source, n_chars, {md5_int_sql('text', 15)} AS h, "
        f"{url_norm} AS url_norm "
        f"FROM (SELECT *, {SYN_URL_SQL} AS url FROM documents)"
    )
    sc = scrub_sql_exprs()
    bm25_sql = retrieval.bm25_topk_sql(BM25_QUERY, k=20)
    r: dict[str, tuple[Query, str]] = {}

    # -- quality-filter core (A1-A5 rollup; SURVEY §2.4-2.5)
    r["quality_scores"] = (
        lambda s, d: _scored(s, d).select(
            "doc_id", *dims, "total_score", "rating", "keep"
        ),
        f"WITH scored AS ({scored}) SELECT doc_id, {', '.join(dims)}, "
        "total_score, rating, keep FROM scored",
    )
    r["rating_histogram"] = (
        lambda s, d: analytics.rating_histogram(_scored(s, d)),
        f"WITH scored AS ({scored}) "
        "SELECT rating, count(*) AS n_docs FROM scored GROUP BY rating",
    )
    r["quality_scores_nti"] = (
        lambda s, d: _scored_nti(s, d).select(
            "doc_id", *dims, "total_score", "rating", "keep"
        ),
        f"WITH scored AS ({scored_nti}) SELECT doc_id, {', '.join(dims)}, "
        "total_score, rating, keep FROM scored",
    )
    r["rating_histogram_nti"] = (
        lambda s, d: analytics.rating_histogram(_scored_nti(s, d)),
        f"WITH scored AS ({scored_nti}) "
        "SELECT rating, count(*) AS n_docs FROM scored GROUP BY rating",
    )
    r["dimension_stats"] = (
        lambda s, d: analytics.dimension_stats(_scored(s, d)),
        f"WITH scored AS ({scored}) "
        + " UNION ALL ".join(
            f"SELECT '{d}' AS dimension, round(avg({d}), 4) AS avg_score, "
            f"min({d}) AS min_score, max({d}) AS max_score FROM scored"
            for d in dims
        ),
    )

    # cross-profile drift: the snapshot-diff readout an operator reads
    # after changing rule profiles/weights — two map-only scoring plans,
    # one narrow join on doc_id (scores only, never text), one global agg
    def profile_score_drift(s: SparkSession, d: str) -> DataFrame:
        a = _scored(s, d).select(
            "doc_id",
            F.col("total_score").alias("score_a"),
            F.col("rating").alias("rating_a"),
            F.col("keep").alias("keep_a"),
        )
        b = _scored_nti(s, d).select(
            "doc_id",
            F.col("total_score").alias("score_b"),
            F.col("rating").alias("rating_b"),
            F.col("keep").alias("keep_b"),
        )
        return a.join(b, "doc_id").agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.col("score_a") - F.col("score_b")), 4).alias(
                "avg_score_delta"
            ),
            F.sum(
                (F.col("rating_a") != F.col("rating_b")).cast("long")
            ).alias("n_rating_changed"),
            F.sum(
                (F.col("keep_a") != F.col("keep_b")).cast("long")
            ).alias("n_keep_changed"),
        )

    r["profile_score_drift"] = (
        profile_score_drift,
        f"""
WITH a AS ({scored}), b AS ({scored_nti})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(a.total_score - b.total_score), 4) AS avg_score_delta,
       CAST(sum(CASE WHEN a.rating <> b.rating THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rating_changed,
       CAST(sum(CASE WHEN a.keep <> b.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep_changed
FROM a JOIN b USING (doc_id)
""",
    )
    r["corpus_summary"] = (
        lambda s, d: analytics.corpus_summary(_scored(s, d)),
        f"WITH scored AS ({scored_src}) "
        "SELECT count(DISTINCT source) AS n_sources, "
        "round(avg(total_score), 4) AS mean_score, count(*) AS n_docs FROM scored",
    )
    r["top_sources"] = (
        lambda s, d: analytics.top_sources(_scored(s, d)),
        f"WITH scored AS ({scored_src}) "
        "SELECT source, round(avg(total_score), 4) AS avg_score, count(*) AS n_docs "
        "FROM scored GROUP BY source ORDER BY avg_score DESC, source ASC LIMIT 5",
    )
    r["dimension_correlation"] = (
        lambda s, d: analytics.dimension_correlation(_scored(s, d)),
        f"WITH scored AS ({scored}) "
        + " UNION ALL ".join(
            f"SELECT '{d}' AS dimension, "
            f"round(covar_pop(CAST({d} AS DOUBLE), CAST(total_score AS DOUBLE)) / "
            f"nullif(stddev_pop(CAST({d} AS DOUBLE)) * "
            f"stddev_pop(CAST(total_score AS DOUBLE)), 0.0), 4) AS corr_with_total "
            f"FROM scored"
            for d in dims
        ),
    )
    mat_cols = [*dims, "total_score"]
    mat_aggs, have_cov = [], set()
    for i, a in enumerate(mat_cols):
        mat_aggs.append(f"stddev_pop(CAST({a} AS DOUBLE)) AS s_{a}")
        for b in mat_cols[i:]:
            mat_aggs.append(
                f"covar_pop(CAST({a} AS DOUBLE), CAST({b} AS DOUBLE)) AS cov_{a}_{b}"
            )
            have_cov.add((a, b))
    mat_rows = []
    for a in mat_cols:
        for b in mat_cols:
            cov = f"cov_{a}_{b}" if (a, b) in have_cov else f"cov_{b}_{a}"
            mat_rows.append(
                f"SELECT '{a}' AS dim_x, '{b}' AS dim_y, "
                f"round({cov} / nullif(s_{a} * s_{b}, 0.0), 4) AS corr FROM m"
            )
    r["dimension_correlation_matrix"] = (
        lambda s, d: analytics.dimension_correlation_matrix(_scored(s, d)),
        f"WITH scored AS ({scored}), m AS (SELECT {', '.join(mat_aggs)} FROM scored) "
        + " UNION ALL ".join(mat_rows),
    )
    r["keep_drop_extremes"] = (
        lambda s, d: analytics.union_keep_drop_extremes(_scored(s, d)),
        f"WITH scored AS ({scored}) "
        "SELECT * FROM (SELECT doc_id, total_score, 'best' AS bucket FROM scored "
        "ORDER BY total_score DESC, doc_id ASC LIMIT 10) "
        "UNION ALL "
        "SELECT * FROM (SELECT doc_id, total_score, 'worst' AS bucket FROM scored "
        "ORDER BY total_score ASC, doc_id ASC LIMIT 10)",
    )
    # drop-reason histogram — the north star's per-partition metric, gated
    # corpus-wide (explode the production drop_reasons column; a reason
    # appears iff its rule pct < 0.5, rules.drop_reasons). Each reason
    # carries its severity: 'violation' = hard-fail rule (forces drop),
    # 'warning' = soft rule (points only) — the sh:severity partition the
    # reference client renders (SHACLValidationService.ts:661-675).
    reason_counts = " UNION ALL ".join(
        f"SELECT '{rule['id']}' AS reason, "
        f"CAST(sum(CASE WHEN pct_{rule['id']} < 0.5 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_docs, '{config.severity_for(rule['id'])}' AS severity FROM pct"
        for rule in config.RULES_BY_PROFILE["webtext_native"]
    )
    r["drop_reason_histogram"] = (
        lambda s, d: (
            _scored(s, d)
            .select(F.explode("drop_reasons").alias("reason"))
            .groupBy("reason")
            .agg(F.count("*").alias("n_docs"))
            .withColumn(
                "severity",
                F.when(
                    F.col("reason").isin(config.HARD_RULES), F.lit("violation")
                ).otherwise(F.lit("warning")),
            )
        ),
        f"{sqlgen.pct_with_clause()} "
        f"SELECT reason, n_docs, severity FROM ({reason_counts}) WHERE n_docs > 0",
    )
    # reports-by-rating — the reference's equality-predicate read of the
    # report store (GET /reports/by-rating/{rating}, src/api/main.py:237-254).
    # filter_scored keeps the rating predicate behind the observe barrier
    # (a bare .filter would re-inline the scoring tree at the scan).
    r["reports_by_rating"] = (
        lambda s, d: filter_scored(_scored(s, d), F.col("rating") == "Good").select(
            "doc_id", "source", *dims, "total_score", "rating", "keep"
        ),
        f"WITH scored AS ({scored_src}) SELECT doc_id, source, "
        f"{', '.join(dims)}, total_score, rating, keep "
        "FROM scored WHERE rating = 'Good'",
    )
    # corpus-level scrub accounting — the north rule's "scrub counts"
    # lineage metric as a gate query: one conditional aggregation over the
    # count-gated scrub projection (map-side partials, single exchange)
    r["scrub_stats"] = (
        lambda s, d: apply_scrub(_t(s, d, "documents")).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("scrub_email_count").cast("long")).alias("emails_scrubbed"),
            F.sum(F.col("scrub_ip_count").cast("long")).alias("ips_scrubbed"),
            F.sum(F.col("scrub_phone_count").cast("long")).alias("phones_scrubbed"),
            F.sum(F.col("scrub_count").cast("long")).alias("total_scrubbed"),
            F.sum((F.col("scrub_count") > 0).cast("long")).alias("docs_affected"),
        ),
        f"""
WITH per AS (
  SELECT {sc['scrub_email_count']} AS e, {sc['scrub_ip_count']} AS i,
         {sc['scrub_phone_count']} AS p, {sc['scrub_count']} AS t
  FROM documents
)
SELECT count(*) AS n_docs,
  CAST(sum(e) AS BIGINT) AS emails_scrubbed,
  CAST(sum(i) AS BIGINT) AS ips_scrubbed,
  CAST(sum(p) AS BIGINT) AS phones_scrubbed,
  CAST(sum(t) AS BIGINT) AS total_scrubbed,
  CAST(sum(CASE WHEN t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected
FROM per
""",
    )
    # per-source keep rate + mean score — the per-partition lineage
    # readout an operator watches during a 100 TB run (which shards are
    # rotting). avg over {0,1} and int scores is order-independent in
    # IEEE doubles, so the cross-engine hash is exact.
    r["keep_rate_by_source"] = (
        lambda s, d: (
            _scored(s, d)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.col("keep").cast("long")).alias("n_keep"),
                F.round(F.avg(F.col("keep").cast("double")), 6).alias("keep_rate"),
                F.round(F.avg(F.col("total_score").cast("double")), 4).alias("avg_score"),
            )
        ),
        f"WITH scored AS ({scored_src}) "
        "SELECT source, count(*) AS n_docs, "
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep, "
        "round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS keep_rate, "
        "round(avg(CAST(total_score AS DOUBLE)), 4) AS avg_score "
        "FROM scored GROUP BY source",
    )

    # -- url curation (canonicalization before any url-keyed stage)
    r["url_normalize"] = (
        lambda s, d: urlops.url_normalize(_pages_with_url(s, d)),
        f"SELECT doc_id, url, {url_norm} AS url_norm FROM ({syn_pages})",
    )
    r["url_dedup"] = (
        lambda s, d: urlops.url_dedup(_pages_with_url(s, d)),
        f"SELECT {url_norm} AS url_norm, min(doc_id) AS doc_id, "
        f"count(*) AS n_dups FROM ({syn_pages}) GROUP BY 1",
    )
    r["domain_stats"] = (
        lambda s, d: urlops.domain_stats(_pages_with_url(s, d)),
        f"""
WITH pages AS ({syn_pages}),
n AS (SELECT doc_id, n_chars, {url_norm} AS url_norm FROM pages)
SELECT regexp_replace(regexp_extract(url_norm, '^([^/?&]+)', 1),
                      ':[0-9]+$', '') AS domain,
       count(*) AS n_docs,
       count(DISTINCT url_norm) AS n_urls,
       round(avg(n_chars), 4) AS avg_chars
FROM n GROUP BY 1
""",
    )
    # pre-fetch URL filtering signal (RefinedWeb §3.1): structural
    # features + integer soft spam score from the url string alone
    r["url_feature_census"] = (
        lambda s, d: urlops.url_feature_census(_pages_with_url(s, d)),
        urlops.url_feature_census_sql(syn_pages),
    )
    # recrawl collapse: newest capture per canonical url (max_by-style
    # agg — no window sort; the exchange carries one slim row per key)
    r["latest_snapshot_per_url"] = (
        lambda s, d: urlops.latest_snapshot_per_url(
            _pages_with_url(s, d).withColumn("warc_ts", F.expr(SYN_WARC_TS_SQL))
        ),
        f"""
WITH pages AS ({syn_pages}),
n AS (SELECT {url_norm} AS url_norm, doc_id,
        {SYN_WARC_TS_SQL} AS warc_ts FROM pages),
r AS (SELECT url_norm, doc_id, warc_ts,
        row_number() OVER (PARTITION BY url_norm
                           ORDER BY warc_ts DESC, doc_id DESC) AS rn,
        count(*) OVER (PARTITION BY url_norm) AS n_snapshots
      FROM n)
SELECT url_norm, doc_id, warc_ts, n_snapshots FROM r WHERE rn = 1
""",
    )

    # blocklist as a DataFrame -> exercises the broadcast anti-join path
    # (the scale shape for a blocklist too big for a literal IN-list)
    def blocklist_filter(s: SparkSession, d: str) -> DataFrame:
        bl = s.createDataFrame([(x,) for x in BLOCKED_DOMAINS], "domain string")
        return urlops.blocklist_filter(_pages_with_url(s, d), bl).select(
            "doc_id", "source"
        )

    blocked_list = ", ".join(f"'{b}'" for b in BLOCKED_DOMAINS)
    r["blocklist_filter"] = (
        blocklist_filter,
        f"""
WITH pages AS ({syn_pages}),
n AS (SELECT doc_id, source,
        regexp_replace(regexp_extract({url_norm}, '^([^/?&]+)', 1),
                       ':[0-9]+$', '') AS domain
      FROM pages)
SELECT doc_id, source FROM n WHERE domain NOT IN ({blocked_list})
""",
    )
    # FineWeb-style per-domain cap: ≤5 pages per domain, hash-priority;
    # two-phase skew-proof plan must equal the oracle's single window
    r["domain_cap"] = (
        lambda s, d: urlops.domain_cap(_pages_with_url(s, d), k=5),
        urlops.domain_cap_sql(syn_pages, k=5),
    )

    # crawl-over-crawl delta: overlapping doc_id ranges make all four
    # statuses reachable at sf0.01 — 100..299 sits in both snapshots
    # (unchanged), 300..399 only in new (added), 0..99 only in old
    # (removed UNLESS its url collides with a 400..499 page via the
    # doc_id % 400 key and different text -> changed)
    def snapshot_diff(s: SparkSession, d: str) -> DataFrame:
        pages = _url_norm_pages(s, d, "doc_id", "text")
        old = pages.filter(F.col("doc_id") < 300)
        new = pages.filter(F.col("doc_id") >= 100)
        return urlops.snapshot_diff(old, new)

    r["snapshot_diff"] = (
        snapshot_diff,
        urlops.snapshot_diff_sql(
            f"SELECT * FROM ({snap}) WHERE doc_id < 300",
            f"SELECT * FROM ({snap}) WHERE doc_id >= 100",
        ),
    )

    # incremental re-score: carry unchanged urls' stored scores, run the
    # scoring pipeline ONLY on added/changed urls (same synthesized
    # snapshot pair as snapshot_diff, so all actions are reachable)
    def rescore_delta(s: SparkSession, d: str) -> DataFrame:
        pages = _url_norm_pages(s, d, "doc_id", "text", "lang", "source", "n_chars")
        old = apply_quality(
            pages.filter(F.col("doc_id") < 300), meta_cols=analytics.DOC_META
        )
        new = pages.filter(F.col("doc_id") >= 100)
        return urlops.rescore_delta(
            old,
            new,
            score_fn=lambda df: apply_quality(df, meta_cols=analytics.DOC_META),
        )

    old_sc = sqlgen.native_scoring_sql(table="oldp", extra_cols=("url_norm", "h"))
    new_sc = sqlgen.native_scoring_sql(table="sel", extra_cols=("url_norm",))
    r["rescore_delta"] = (
        rescore_delta,
        f"""
WITH pages AS ({dpages}),
oldp AS (SELECT * FROM pages WHERE doc_id < 300),
newp AS (SELECT * FROM pages WHERE doc_id >= 100),
olds AS ({old_sc}),
old_bh AS (SELECT url_norm, h, min(total_score) AS total_score,
                  min(rating) AS rating, min(keep) AS keep
           FROM olds GROUP BY 1, 2),
old_min AS (SELECT url_norm, min(h) AS h_old FROM old_bh GROUP BY 1),
old_slim AS (SELECT b.url_norm, m.h_old, b.total_score, b.rating, b.keep
             FROM old_bh b JOIN old_min m
               ON b.url_norm = m.url_norm AND b.h = m.h_old),
new_best AS (SELECT url_norm, min(h) AS h_new FROM newp GROUP BY 1),
carried AS (SELECT n.url_norm, 'carried' AS action,
                   o.total_score, o.rating, o.keep
            FROM new_best n JOIN old_slim o
              ON n.url_norm = o.url_norm AND o.h_old = n.h_new),
need AS (SELECT n.url_norm, n.h_new
         FROM new_best n LEFT JOIN old_slim o USING (url_norm)
         WHERE o.h_old IS NULL OR o.h_old <> n.h_new),
cand AS (SELECT p.* FROM newp p
         JOIN need d ON p.url_norm = d.url_norm AND p.h = d.h_new),
pick AS (SELECT url_norm, min(doc_id) AS doc_id FROM cand GROUP BY 1),
sel AS (SELECT c.* FROM cand c JOIN pick USING (url_norm, doc_id)),
sc AS ({new_sc})
SELECT url_norm, action, total_score, rating, keep FROM carried
UNION ALL
SELECT url_norm, 'scored' AS action, total_score, rating, keep FROM sc
""",
    )

    # full store lifecycle through the REAL parquet path: bucketed build,
    # copy-on-write merge, pinned + latest reads — value-transparent, so
    # the oracle is plain scoring of each crawl (no merge machinery)
    def store_merge_cycle(s: SparkSession, d: str) -> DataFrame:
        pages = _url_norm_pages(s, d, "doc_id", "text", "lang", "source", "n_chars")

        def dedup_min_doc(df: DataFrame) -> DataFrame:
            m = df.groupBy("url_norm").agg(F.min("doc_id").alias("doc_id"))
            return df.join(m, ["url_norm", "doc_id"])

        def transform(df: DataFrame) -> DataFrame:
            withh = df.withColumn("content_h", h60(F.col("text")))
            return apply_quality(withh, meta_cols=analytics.DOC_META)

        old = dedup_min_doc(pages.filter(F.col("doc_id") < 300))
        new = dedup_min_doc(pages.filter(F.col("doc_id") >= 100))
        return sink.store_merge_cycle(s, old, new, transform)

    cycle_sc_old = sqlgen.native_scoring_sql(table="oldp", extra_cols=("url_norm",))
    cycle_sc_new = sqlgen.native_scoring_sql(table="newp2", extra_cols=("url_norm",))
    r["store_merge_cycle"] = (
        store_merge_cycle,
        f"""
WITH pages AS ({dpages}),
oldp AS (SELECT p.* FROM pages p
         JOIN (SELECT url_norm, min(doc_id) AS doc_id FROM pages
               WHERE doc_id < 300 GROUP BY 1) m USING (url_norm, doc_id)),
newp2 AS (SELECT p.* FROM pages p
          JOIN (SELECT url_norm, min(doc_id) AS doc_id FROM pages
                WHERE doc_id >= 100 GROUP BY 1) m USING (url_norm, doc_id)),
base_sc AS ({cycle_sc_old}),
new_sc AS ({cycle_sc_new})
SELECT 'base' AS snap, url_norm, total_score, rating, keep FROM base_sc
UNION ALL
SELECT 'merged' AS snap, url_norm, total_score, rating, keep FROM new_sc
""",
    )

    # Bloom pre-filter over canonical urls: bitmap built on the first
    # 300 docs' urls, the rest probed map-only; cross-range collisions
    # via the doc_id % 400 page key give true positives at sf0.01
    def bloom_url_probe(s: SparkSession, d: str) -> DataFrame:
        pages = _url_norm_pages(s, d, "doc_id")
        bitmap = bloom.bloom_build(pages.filter(F.col("doc_id") < 300), col="url_norm")
        return bloom.bloom_probe(
            pages.filter(F.col("doc_id") >= 300), bitmap, col="url_norm"
        ).select("doc_id", "maybe_dup")

    r["bloom_url_probe"] = (
        bloom_url_probe,
        bloom.bloom_probe_sql(
            f"SELECT * FROM ({snap}) WHERE doc_id < 300",
            f"SELECT * FROM ({snap}) WHERE doc_id >= 300",
            col="url_norm",
        ),
    )

    # -- analytics over raw tables (A6-A12, P4, J5, O1-O3)
    r["lang_histogram"] = (
        lambda s, d: analytics.lang_histogram(_t(s, d, "documents")),
        "SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars "
        "FROM documents GROUP BY lang",
    )
    r["latest_event_per_user"] = (
        lambda s, d: analytics.latest_event_per_user(_t(s, d, "events")),
        "SELECT user_id, event_id, event_type FROM ("
        "SELECT user_id, event_id, event_type, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
        "FROM events) WHERE rn = 1",
    )
    r["events_date_range"] = (
        lambda s, d: analytics.events_date_range(
            _t(s, d, "events"), EVENTS_START, EVENTS_END
        ),
        f"SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value "
        f"FROM events WHERE ts >= TIMESTAMP '{EVENTS_START}' "
        f"AND ts < TIMESTAMP '{EVENTS_END}' GROUP BY event_type",
    )
    r["events_hourly"] = (
        lambda s, d: analytics.events_hourly(_t(s, d, "events")),
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "count(*) AS n_events, round(sum(value), 2) AS sum_value "
        "FROM events GROUP BY 1, 2",
    )
    r["score_history"] = (
        lambda s, d: analytics.score_history(_scored(s, d)),
        f"""
WITH scored AS ({scored_src}),
daily AS (
  SELECT source,
    CAST(DATE '2024-01-01' + CAST(doc_id % 30 AS INTEGER) AS VARCHAR) AS day,
    count(*) AS n_docs, round(avg(total_score), 4) AS avg_score
  FROM scored GROUP BY 1, 2
)
SELECT source, day, n_docs, avg_score,
  CAST((2 * sum(CAST(round(avg_score * 10000, 0) AS BIGINT))
          OVER (PARTITION BY source ORDER BY day)
        + count(*) OVER (PARTITION BY source ORDER BY day))
       // (2 * count(*) OVER (PARTITION BY source ORDER BY day))
       AS DOUBLE) / 10000.0 AS running_avg
FROM daily
""",
    )
    r["events_props_extract"] = (
        lambda s, d: analytics.events_props_extract(_t(s, d, "events")),
        """
SELECT event_type, count(*) AS n_events,
  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
    )
    r["event_sessions"] = (
        lambda s, d: analytics.sessionize(_t(s, d, "events")),
        """
WITH gapped AS (
  SELECT user_id, event_id, ts, value,
    epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS gap
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_s
  FROM gapped
),
sess AS (
  SELECT *, CAST(sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end,
  round(sum(value), 2) AS sum_value
FROM sess GROUP BY user_id, session_id
""",
    )
    # as-of join: DuckDB's native ASOF LEFT JOIN is the oracle for the
    # union-tag window formulation (analytics.asof_join)
    r["purchase_asof_view"] = (
        lambda s, d: analytics.purchase_asof_view(_t(s, d, "events")),
        """
WITH v AS (SELECT user_id, ts, event_id AS id, value FROM events
           WHERE event_type = 'view'),
p AS (SELECT user_id, ts, event_id AS id FROM events
      WHERE event_type = 'purchase')
SELECT p.id AS probe_id, p.user_id, p.ts,
       v.id AS asof_id, v.ts AS asof_ts, v.value AS asof_value,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""",
    )
    # key-free temporal range join (bin-bucketed on the Spark side);
    # DuckDB's IEJoin handles the bare BETWEEN directly
    r["errors_near_purchases"] = (
        lambda s, d: analytics.errors_near_purchases(_t(s, d, "events")),
        """
WITH p AS (SELECT event_id AS probe_id, epoch_us(ts) AS probe_us FROM events
           WHERE event_type = 'purchase'),
e AS (SELECT event_id AS point_id, epoch_us(ts) AS point_us FROM events
      WHERE event_type = 'error')
SELECT p.probe_id, e.point_id, e.point_us - p.probe_us AS dt_us
FROM p JOIN e ON e.point_us BETWEEN p.probe_us - 60000000
                               AND p.probe_us + 60000000
""",
    )
    sweep_list = ", ".join(str(t) for t in range(0, 351, 25))
    r["threshold_sweep"] = (
        lambda s, d: analytics.threshold_sweep(_scored(s, d)),
        f"""
WITH scored AS ({scored}),
t AS (SELECT unnest([{sweep_list}]) AS threshold)
SELECT CAST(t.threshold AS INT) AS threshold,
       CAST(count(*) FILTER (WHERE s.total_score >= t.threshold) AS BIGINT)
         AS n_keep,
       round(count(*) FILTER (WHERE s.total_score >= t.threshold)
             / count(*), 6) AS keep_rate
FROM scored s CROSS JOIN t GROUP BY 1
""",
    )
    r["source_lang_entropy"] = (
        lambda s, d: analytics.source_lang_entropy(_t(s, d, "documents")),
        """
WITH per AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2)
SELECT source, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_langs,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS lang_entropy
FROM per GROUP BY source
""",
    )
    r |= _docs(sampling.chunk_documents, sampling.chunk_documents_sql)
    r["lang_mix_weights"] = (
        lambda s, d: sampling.lang_mix_weights(_t(s, d, "documents")),
        """
WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, count(*) AS n_langs FROM per)
SELECT lang, n_docs,
       round(n_docs / total, 6) AS actual_share,
       round(1.0 / n_langs, 6) AS target_share,
       round((total / n_langs) / n_docs, 6) AS weight
FROM per, tot
""",
    )
    r["pack_chunks"] = (
        lambda s, d: sampling.pack_chunks(sampling.chunk_documents(_t(s, d, "documents"))),
        sampling.pack_chunks_sql(),
    )
    r |= _docs(sampling.rebalance_corpus, sampling.rebalance_corpus_sql)
    r["score_quantiles_by_source"] = (
        lambda s, d: (
            _scored(s, d)
            .groupBy("source")
            .agg(
                *[
                    F.round(
                        F.expr(f"percentile(total_score, {p!r})"), 4
                    ).alias(f"p{int(p * 100)}")
                    for p in (0.25, 0.5, 0.75)
                ]
            )
        ),
        f"WITH scored AS ({scored_src}) SELECT source, "
        + ", ".join(
            f"round(quantile_cont(total_score, {p!r}), 4) AS p{int(p * 100)}"
            for p in (0.25, 0.5, 0.75)
        )
        + " FROM scored GROUP BY source",
    )
    ttl = textops.TURTLE_TEMPLATE.replace("'", "''")
    r["report_turtle"] = (
        lambda s, d: textops.report_turtle(_scored(s, d)),
        f"WITH scored AS ({scored}) "
        f"SELECT doc_id, printf('{ttl}', doc_id, total_score, rating, "
        "CASE WHEN keep THEN 'true' ELSE 'false' END, "
        f"{', '.join(dims)}) AS turtle FROM scored",
    )

    # -- corpus shaping (sampling / quotas / distribution readout)
    r["sample_documents"] = (
        lambda s, d: sampling.deterministic_sample(_t(s, d, "documents")).select(
            "doc_id", "source", "lang"
        ),
        f"""
SELECT doc_id, source, lang FROM documents
WHERE {md5_int_sql('CAST(doc_id AS VARCHAR)', 7)}
      % {sampling.SAMPLE_BUCKETS} < 10
""",
    )
    r["docs_per_source_cap"] = (
        lambda s, d: sampling.cap_per_key(
            _t(s, d, "documents").select("doc_id", "source"), "source", 3, "doc_id"
        ),
        """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 3
""",
    )
    r["score_quantiles"] = (
        lambda s, d: sampling.score_quantiles(_scored(s, d)),
        f"WITH scored AS ({scored}) SELECT "
        + ", ".join(
            f"round(quantile_cont(total_score, {p!r}), 4) AS p{int(p * 100)}"
            for p in (0.1, 0.25, 0.5, 0.75, 0.9)
        )
        + " FROM scored",
    )
    # the gate-verifiable 100 TB quantile path: exact percentile over a
    # deterministic md5 sample (approx_percentile's sketch is engine-
    # private and can never hash-match an oracle)
    r["score_quantiles_sampled"] = (
        lambda s, d: sampling.score_quantiles_sampled(_scored(s, d)),
        f"WITH scored AS ({scored}), s AS ("
        "SELECT * FROM scored WHERE "
        f"({md5_int_sql('CAST(doc_id AS VARCHAR)', 7)} % 100)"
        " < 10) SELECT count(*)::BIGINT AS n_sampled, "
        + ", ".join(
            f"round(quantile_cont(total_score, {p!r}), 4) AS p{int(p * 100)}"
            for p in (0.1, 0.25, 0.5, 0.75, 0.9)
        )
        + " FROM s",
    )
    r |= _docs(sampling.train_val_test_split, sampling.train_val_test_split_sql)
    r["quality_weighted_sample"] = (
        lambda s, d: sampling.quality_weighted_sample(_scored(s, d)),
        sampling.quality_weighted_sample_sql(scored),
    )
    r |= _docs(sampling.corpus_token_budget, sampling.corpus_token_budget_sql)
    r |= _docs(dsir.dsir_logweights, dsir.dsir_logweights_sql)
    r |= _docs(dsir.dsir_sample, dsir.dsir_sample_sql)
    r |= _docs(gopher.gopher_repetition_filter, gopher.gopher_repetition_filter_sql)
    r |= _docs(gopher.gopher_repetition, gopher.gopher_repetition_sql)
    # production twin: one Arrow-batched pandas UDF, integer-exact-equal
    # to gopher_repetition, so it is checked against the same oracle
    r["gopher_repetition_fast"] = (
        lambda s, d: gopher.gopher_repetition_fast(_t(s, d, "documents")),
        gopher.gopher_repetition_sql(),
    )
    r |= _docs(sampling.shuffle_shards, sampling.shuffle_shards_sql)
    r |= _docs(sampling.temperature_mix, sampling.temperature_mix_sql)
    r |= _docs(textops.lang_stopword_density, textops.lang_stopword_density_sql)
    r |= _docs(sampling.length_outlier_trim, sampling.length_outlier_trim_sql)
    r |= _docs(textops.bpe_fertility_by_lang, textops.bpe_fertility_by_lang_sql)
    r |= _docs(bpe.bpe_learned_merges, bpe.bpe_learned_merges_sql)
    r |= _docs(bpe.bpe_tokenized_docs, bpe.bpe_tokenized_docs_sql)
    r |= _docs(bpe.bpe_vocab_ids, bpe.bpe_vocab_ids_sql)
    r |= _docs(bpe.bpe_encode_docs, bpe.bpe_encode_docs_sql)
    r |= _docs(bpe.bpe_pack_sequences, bpe.bpe_pack_sequences_sql)
    r |= _docs(graph.domain_link_stats, graph.domain_link_stats_sql)
    r |= _docs(graph.domain_pagerank, graph.domain_pagerank_sql)

    # crawl-frontier prioritization (r5): a recrawl budget is spent per
    # DOMAIN, ordered by authority x content quality — PageRank joined
    # to the per-domain mean pipeline score. The rank side exchanges
    # domain-sized rows, the quality side is one groupBy over the scored
    # frame, and the join key set is the domain census — at 10^12 docs
    # both inputs are ~10^7 rows while the docs themselves never move.
    # Integer discipline end to end (micros x int scores, div readouts).
    def domain_quality_rank(s: SparkSession, d: str) -> DataFrame:
        qual = (
            _scored(s, d)
            .filter(F.col("source").isNotNull())
            .groupBy(F.col("source").alias("node"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("total_score").alias("ss"),
            )
        )
        pr = graph.domain_pagerank(_t(s, d, "documents"))
        return pr.join(qual, "node").select(
            "node",
            "n_docs",
            "rank_micro",
            F.expr("ss div n_docs").cast("long").alias("mean_score"),
            F.expr("(rank_micro * ss) div n_docs")
            .cast("long")
            .alias("priority_micro"),
        )

    r["domain_quality_rank"] = (
        domain_quality_rank,
        f"WITH pr AS ({graph.domain_pagerank_sql()}),\n"
        f"scored AS ({scored_src}),\n"
        "q AS (SELECT source AS node, count(*) AS n_docs,\n"
        "        sum(total_score) AS ss\n"
        "      FROM scored WHERE source IS NOT NULL GROUP BY source)\n"
        "SELECT pr.node, q.n_docs, pr.rank_micro,\n"
        "  (q.ss // q.n_docs)::BIGINT AS mean_score,\n"
        "  ((pr.rank_micro * q.ss) // q.n_docs)::BIGINT AS priority_micro\n"
        "FROM pr JOIN q USING (node)",
    )
    # REAL-href chain (VERDICT r4 #8): deterministic fixture pages with
    # actual <nav> anchors -> sources/pages.extract_links_column regex
    # parse -> normalize_url canonicalization -> domain edges; the
    # oracle replays the href regex and the normalize chain, not just
    # the graph arithmetic
    r |= _docs(graph.real_link_edges, graph.real_link_edges_sql)
    r |= _docs(graph.pagerank_real_links, graph.pagerank_real_links_sql)
    r |= _docs(graph.pagerank_dangling_mass, graph.pagerank_dangling_mass_sql)
    r |= _docs(graph.anchor_text_stats, graph.anchor_text_stats_sql)
    r |= _docs(cdc.cdc_chunk_stats, cdc.cdc_chunk_stats_sql)
    r |= _docs(cdc.cdc_dedup_ratio, cdc.cdc_dedup_ratio_sql)
    # persistent chunk index: build -> ingest -> compact -> ingest; the
    # oracle is pure chunk-set algebra over the three corpus slices
    r["cdc_index_cycle"] = (
        lambda s, d: cdc_index.chunk_index_cycle(s, _t(s, d, "documents")),
        cdc_index.chunk_index_cycle_sql(),
    )
    # keep-flip 2x2 between the two scoring profiles (one scan, chained
    # stagings — the oracle states the naive self-join form)
    r["profile_flip_matrix"] = (
        lambda s, d: analytics.profile_flip_matrix(_t(s, d, "documents")),
        f"""
WITH a AS ({scored}), b AS ({scored_nti})
SELECT a.keep AS keep_a, b.keep AS keep_b, count(*)::BIGINT AS n_docs
FROM a JOIN b ON a.doc_id = b.doc_id GROUP BY 1, 2
""",
    )
    r |= _docs(analytics.rule_ablation, analytics.rule_ablation_sql)
    r |= _docs(classifier.classifier_weights, classifier.classifier_weights_sql, "quality_classifier_weights")
    r |= _docs(classifier.classifier_scores, classifier.classifier_scores_sql, "quality_classifier_scores")
    r |= _docs(classifier.classifier_confusion, classifier.classifier_confusion_sql, "quality_classifier_confusion")
    r |= _docs(classifier.classifier_pr_sweep, classifier.classifier_pr_sweep_sql, "quality_classifier_pr_sweep")
    r |= _docs(classifier.classifier_calibration, classifier.classifier_calibration_sql, "quality_classifier_calibration")
    r |= _docs(micro_lm.langid_model_scores, micro_lm.langid_model_scores_sql)
    r |= _docs(micro_lm.langid_model_histogram, micro_lm.langid_model_histogram_sql)
    r |= _docs(micro_lm.perplexity_model_scores, micro_lm.perplexity_model_scores_sql)
    r |= _docs(ngram_lm.ngram_lm_surprisal, ngram_lm.ngram_lm_surprisal_sql)
    r |= _docs(ngram_lm.token_entropy, ngram_lm.token_entropy_sql)
    r |= _docs(ngram_lm.source_kl, ngram_lm.source_kl_sql)
    r["ngram_lm_stored_cycle"] = (
        lambda s, d: ngram_lm.ngram_lm_stored_cycle(s, _t(s, d, "documents")),
        ngram_lm.ngram_lm_cross_sql(
            "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
            "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        ),
    )
    r |= _docs(ngram_lm.ngram_lm_by_lang, ngram_lm.ngram_lm_by_lang_sql)
    r |= _docs(micro_lm.full_pipeline_micro, micro_lm.full_pipeline_micro_sql)
    r |= _docs(micro_lm.ccnet_ppl_buckets, micro_lm.ccnet_ppl_buckets_sql)
    r |= _docs(sketches.kmv_distinct_estimate, sketches.kmv_distinct_estimate_sql)
    # the property that matters at scale: merging per-shard sketches
    # must equal the whole-corpus sketch (the oracle states the latter)
    r["kmv_shard_merge"] = (
        lambda s, d: sketches.kmv_merge([sketches.kmv_sketch(x) for x in _shards(s, d)]),
        f"""
WITH hs AS (SELECT DISTINCT {md5_int_sql('text', 15)} AS h FROM documents)
SELECT h FROM hs ORDER BY h LIMIT {sketches.KMV_K}
""",
    )
    r |= _docs(hll.hll_distinct_estimate, hll.hll_distinct_estimate_sql)
    r["hll_shard_merge"] = (
        lambda s, d: hll.hll_shard_merge([hll.hll_registers(x) for x in _shards(s, d)]),
        hll.hll_shard_merge_sql(),
    )
    # count-min frequency probe: the sketch exchange is d*w cells; the
    # probe filters to driver-computed literal cells per term
    r["cms_term_counts"] = (
        lambda s, d: cms.cms_term_counts(_t(s, d, "documents"), BM25_QUERY),
        cms.cms_term_counts_sql(BM25_QUERY),
    )
    # mergeable histogram quantiles of the 21-rule total score (the
    # monitoring quantile path: bin sums merge, no global sort; observe
    # barrier stops the scoring tree re-inlining per reference)
    r["score_hist_quantiles"] = (
        lambda s, d: cms.hist_quantiles(_scored(s, d), "total_score", 0, 512),
        cms.hist_quantiles_sql("total_score", 0, 512, from_clause=f"({scored})"),
    )
    r["quality_by_crawl_day"] = (
        lambda s, d: analytics.quality_by_crawl_day(_t(s, d, "documents"), SYN_WARC_TS_SQL),
        analytics.quality_by_crawl_day_sql(SYN_WARC_TS_SQL),
    )
    r |= _docs(analytics.corpus_datasheet, analytics.corpus_datasheet_sql)
    r |= _docs(textops.normalize_text, textops.normalize_text_sql)
    r |= _docs(textops.c4_line_filter, textops.c4_line_filter_sql)
    r |= _docs(textops.mojibake_stats, textops.mojibake_stats_sql)
    r |= _docs(textops.lexical_diversity, textops.lexical_diversity_sql)
    r |= _docs(textops.lix_readability, textops.lix_readability_sql)
    r |= _docs(sampling.eval_set_stratified, sampling.eval_set_stratified_sql)
    r |= _docs(textops.script_census, textops.script_census_sql)
    r["bm25_topk"] = (
        lambda s, d: retrieval.bm25_topk(_t(s, d, "documents"), BM25_QUERY, k=20),
        bm25_sql,
    )
    r |= _docs(retrieval.domain_top_terms, retrieval.domain_top_terms_sql)
    # persistent inverted index: build -> probe (scratch dir); the index
    # is lossless, so inline-BM25 SQL is the oracle
    r["text_index_topk"] = (
        lambda s, d: text_index.index_topk_cycle(s, _t(s, d, "documents"), BM25_QUERY, k=20),
        bm25_sql,
    )
    # the append path: build on half, append half, compact, probe —
    # must equal whole-corpus BM25 (stats scalars maintained exactly)
    r["text_index_incremental"] = (
        lambda s, d: text_index.index_incremental_topk_cycle(
            s, _t(s, d, "documents"), BM25_QUERY, k=20
        ),
        bm25_sql,
    )
    # FineWeb-style domain-level filtering: drop whole low-keep-rate
    # sources via a broadcast anti-join (threshold 0.8 splits sf0.01)
    r["source_quality_filter"] = (
        lambda s, d: analytics.source_quality_filter(
            _t(s, d, "documents"), min_keep_rate=0.8
        ),
        f"""
WITH s AS ({scored_src}),
rates AS (SELECT source,
                 sum(CASE WHEN keep THEN 1 ELSE 0 END) / count(*) AS r
          FROM s GROUP BY source),
bad AS (SELECT source FROM rates WHERE r < 0.8 AND source IS NOT NULL)
SELECT doc_id, source FROM documents
WHERE source IS NULL OR source NOT IN (SELECT source FROM bad)
""",
    )
    # shuffle-key skew diagnostics (lang is the skewed key: 'en' ~43%)
    r["skew_report"] = (
        lambda s, d: analytics.skew_report(_t(s, d, "documents"), "lang"),
        analytics.skew_report_sql("documents", "lang"),
    )

    # -- end-to-end curation composite (CURATE_ARGS)
    r["curated_corpus"] = (
        lambda s, d: curate.curate(_t(s, d, "documents"), **CURATE_ARGS),
        f"{curate_cte} SELECT doc_id, source, lang, fingerprint, "
        "total_score, rating FROM capped",
    )
    r["curation_funnel"] = (
        lambda s, d: curate.curation_accounting(_t(s, d, "documents"), **CURATE_ARGS),
        f"""{curate_cte}
SELECT 'input' AS stage, count(*) AS n FROM documents
UNION ALL SELECT 'quality_kept', count(*) FROM kept
UNION ALL SELECT 'unique', count(*) FROM uniq
UNION ALL SELECT 'sampled', count(*) FROM sampled
UNION ALL SELECT 'capped', count(*) FROM capped
""",
    )
    # full training-data recipe: quality keep -> exact dedup -> fuzzy
    # dedup over the survivors -> decontaminate -> content-keyed split.
    # Reuses the curate CTE chain (scored/kept/uniq), re-bands over the
    # exact-dedup survivor set (rdocs), and replays the connected
    # components as the same recursive reachability the dedup_clusters
    # oracle states.
    recipe_bucket = f"{hex_int_sql('fingerprint', 7)} % 100"
    r["curation_recipe"] = (
        lambda s, d: curate.curation_recipe(
            _t(s, d, "documents"), meta_cols=analytics.DOC_META
        ),
        f"""{curate_cte.replace("WITH scored", "WITH RECURSIVE scored", 1)},
rdocs AS (SELECT d.* FROM documents d JOIN uniq u USING (doc_id)),
{bands_cte.replace("WITH sh", "sh", 1).replace("FROM documents", "FROM rdocs")},
rpairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  AND a.doc_id < b.doc_id
),
redges AS (SELECT d1, d2 FROM rpairs UNION ALL SELECT d2, d1 FROM rpairs),
rreach(doc_id, cluster) AS (
  SELECT doc_id, doc_id FROM rdocs
  UNION
  SELECT e.d1, r.cluster FROM redges e JOIN rreach r ON e.d2 = r.doc_id
),
rlabels AS (SELECT doc_id, min(cluster) AS cluster FROM rreach GROUP BY doc_id),
rcont AS (SELECT * FROM ({contamination.decontaminate_sql()})),
rbad AS (SELECT doc_id FROM rcont WHERE contamination_ratio >= {curate.CONTAMINATION_MAX}),
rclean AS (
  SELECT u.* FROM uniq u JOIN rlabels l USING (doc_id)
  WHERE l.cluster = l.doc_id
    AND u.doc_id NOT IN (SELECT doc_id FROM rbad)
    AND u.doc_id % {contamination.EVAL_MOD} <> 0
)
SELECT doc_id, source, lang, total_score, rating,
  {recipe_bucket} AS bucket,
  CASE WHEN {recipe_bucket} < 5 THEN 'test'
       WHEN {recipe_bucket} < 10 THEN 'val'
       ELSE 'train' END AS split
FROM rclean
""",
    )
    # every map-only heuristic family fused onto ONE scan (zero Exchange)
    r |= _docs(curate.heuristic_filter_bank, curate.heuristic_filter_bank_sql)

    # -- text analysis (token counting, langid, fingerprint, scrub)
    sw = "[" + ", ".join(f"'{w}'" for w in config.STOPWORDS_EN) + "]"
    r["token_stats"] = (
        lambda s, d: textops.token_stats(_t(s, d, "documents")),
        f"""
WITH t AS (
  SELECT doc_id, {token_array_sql("text")} AS toks,
    list_distinct({token_array_sql("lower(text)")}) AS lows,
    length(text) - (length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g')))
      AS sum_len
  FROM documents
), f AS (
  SELECT doc_id, len(toks) AS n_words, len(lows) AS n_distinct_words,
    sum_len, len(list_intersect(lows, {sw})) AS n_stop_distinct
  FROM t
)
SELECT doc_id, n_words, n_distinct_words,
  round(coalesce(CAST(sum_len AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0.0), 0.0), 6)
    AS mean_word_len,
  round(coalesce(CAST(n_stop_distinct AS DOUBLE) / nullif(CAST(n_distinct_words AS DOUBLE), 0.0), 0.0), 6)
    AS stopword_density
FROM f
""",
    )
    r |= _docs(textops.langid_heuristic, textops.langid_heuristic_sql)
    # declared-vs-detected language disagreement per source (crawl
    # metadata health; decides which shards need re-detection)
    r |= _docs(textops.lang_mismatch_by_source, textops.lang_mismatch_by_source_sql)
    r["doc_fingerprint"] = (
        lambda s, d: textops.doc_fingerprint(_t(s, d, "documents")),
        "SELECT doc_id, md5(text) AS fingerprint, "
        f"md5({collapsed_lower_sql('text')}) AS norm_fingerprint FROM documents",
    )
    r["scrub_pii"] = (
        lambda s, d: textops.scrub_documents(_t(s, d, "documents")),
        "SELECT doc_id, "
        f"{sc['scrubbed_text']} AS scrubbed_text, "
        f"CAST({sc['scrub_email_count']} AS INTEGER) AS scrub_email_count, "
        f"CAST({sc['scrub_ip_count']} AS INTEGER) AS scrub_ip_count, "
        f"CAST({sc['scrub_phone_count']} AS INTEGER) AS scrub_phone_count, "
        f"CAST({sc['scrub_count']} AS INTEGER) AS scrub_count "
        "FROM documents",
    )
    # toxicity word-list masking (north rule: PII/toxicity scrub). The
    # term list is a parameter; here it is drawn from the synthetic corpus
    # vocabulary so the gate exercises masking with nonzero counts — the
    # production default (config.TOXIC_TERMS) is the policy list.
    tox = toxicity_sql_exprs(GATE_TOXIC_TERMS)
    r["scrub_toxicity"] = (
        lambda s, d: apply_toxicity(_t(s, d, "documents"), terms=GATE_TOXIC_TERMS).select(
            "doc_id", "tox_count", "detoxed_text"
        ),
        "SELECT doc_id, "
        f"CAST({tox['tox_count']} AS INTEGER) AS tox_count, "
        f"{tox['detoxed_text']} AS detoxed_text "
        "FROM documents",
    )
    # k-anonymity rare-token suppression (min_df tuned to the synthetic
    # corpus's tiny template vocab so the replacement path really fires)
    r["rare_token_scrub"] = (
        lambda s, d: rare_token_scrub(_t(s, d, "documents"), min_df=380),
        rare_token_scrub_sql(min_df=380),
    )
    r["length_quality_ramp"] = (
        lambda s, d: textops.length_quality_ramp(_t(s, d, "documents")),
        """
SELECT doc_id, n_chars,
  round(greatest(least(
    CASE WHEN CAST(n_chars AS DOUBLE) < 100.0
         THEN 0.5 * (CAST(n_chars AS DOUBLE) / 100.0)
         ELSE least(0.5 + 0.5 * ((CAST(n_chars AS DOUBLE) - 100.0) / 400.0), 1.0)
    END, 1.0), 0.0), 6) AS length_score
FROM documents
""",
    )
    dqv_dims = ", ".join(f'"{d}": %d' for d in dims)
    dqv_fmt = (
        '{{"doc_id": %d, "totalScore": %d, "rating": "%s", "keep": %s, '
        '"dimensions": {{' + dqv_dims + "}}}}"
    ).replace("{{", "{").replace("}}", "}")
    dqv_args = ", ".join(["doc_id", "total_score", "rating",
                          "CASE WHEN keep THEN 'true' ELSE 'false' END",
                          *dims])
    r["report_json"] = (
        lambda s, d: textops.report_json(_scored(s, d)),
        f"WITH scored AS ({scored}) "
        f"SELECT doc_id, printf('{dqv_fmt}', {dqv_args}) AS report FROM scored",
    )
    # per-metric breakdown + nested DQV report (reference models.py:31-42,
    # converters.py:70-137)
    r["metric_report"] = (
        lambda s, d: metric_report(_t(s, d, "documents"), meta_cols=analytics.DOC_META),
        sqlgen.metric_report_sql(),
    )
    r["report_dqv"] = (
        lambda s, d: textops.report_dqv(_t(s, d, "documents"), meta_cols=analytics.DOC_META),
        sqlgen.dqv_report_sql(),
    )
    r["repetition_stats"] = (
        lambda s, d: textops.repetition_stats(_t(s, d, "documents")),
        f"""
WITH t AS (SELECT doc_id, {token_array_sql("lower(text)")} AS lows FROM documents),
bg AS (
  SELECT doc_id, unnest(
    CASE WHEN len(lows) >= 2 THEN
      list_transform(generate_series(1, len(lows) - 1),
                     i -> array_to_string(lows[i:i+1], ' '))
    ELSE [] END) AS bg
  FROM t
),
counts AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
    CAST(max(c) AS BIGINT) AS top_bigram_count
  FROM counts GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(p.n_bigrams, 0) AS n_bigrams,
  coalesce(p.top_bigram_count, 0) AS top_bigram_count,
  round(coalesce(CAST(p.top_bigram_count AS DOUBLE)
    / nullif(CAST(p.n_bigrams AS DOUBLE), 0.0), 0.0), 6) AS top_bigram_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
    )
    bpe_all = textops.BPE_PRETOKEN_RE.replace("'", "''")
    bpe_nonws = textops.BPE_NONWS_RE.replace("'", "''")
    r["bpe_token_stats"] = (
        lambda s, d: textops.bpe_token_stats(_t(s, d, "documents")),
        f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{bpe_all}')) AS INTEGER) AS n_pieces,
  CAST(len(regexp_extract_all(text, '{bpe_nonws}')) AS INTEGER) AS n_tokens,
  round(coalesce(CAST(length(text) AS DOUBLE) /
    nullif(CAST(len(regexp_extract_all(text, '{bpe_nonws}')) AS DOUBLE), 0.0),
    0.0), 6) AS chars_per_token
FROM documents
""",
    )
    r["rolling_fingerprint"] = (
        lambda s, d: textops.rolling_fingerprint(_t(s, d, "documents")),
        f"SELECT doc_id, {dedup.poly_hash_sql(collapsed_lower_sql('text'))} AS rolling_hash "
        "FROM documents",
    )
    r |= _docs(textops.term_stats, textops.term_stats_sql)

    # -- dedup family
    r["exact_dedup"] = (
        lambda s, d: dedup.exact_dedup_groups(_t(s, d, "documents")),
        "SELECT md5(text) AS fingerprint, min(doc_id) AS canonical_doc_id, "
        "count(*) AS n_dups FROM documents GROUP BY md5(text)",
    )
    r["dedup_new_batch"] = (
        lambda s, d: dedup.dedup_new_batch(*_new_batch(s, d)),
        dedup.dedup_new_batch_sql(),
    )
    # fuzzy twin of dedup_new_batch: the new batch probed against the
    # corpus's stored LSH band index (same batch split)
    r["fuzzy_dedup_new_batch"] = (
        lambda s, d: dedup.fuzzy_dedup_new_batch(*_new_batch(s, d)),
        f"""
{bands_cte},
corpus_idx AS (SELECT DISTINCT band, bucket FROM bands WHERE doc_id % {dedup.NEW_BATCH_MOD} <> 0),
batch_bands AS (SELECT * FROM bands WHERE doc_id % {dedup.NEW_BATCH_MOD} = 0),
hits AS (
  SELECT b.doc_id, count(*) AS n_hit_bands
  FROM batch_bands b JOIN corpus_idx c
    ON b.band = c.band AND b.bucket = c.bucket
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hit_bands, 0) AS BIGINT) AS n_hit_bands,
       (coalesce(h.n_hit_bands, 0) > 0) AS near_dup_of_corpus,
       (coalesce(h.n_hit_bands, 0) = 0) AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % {dedup.NEW_BATCH_MOD} = 0) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
    )
    # persistent fingerprint index: the full build -> ingest -> compact
    # -> probe lifecycle against a scratch dir, mirrored by set algebra.
    # The bloom variant shares the oracle: the bitmap only routes rows
    # around the anti-join, never decides membership.
    probe_sql = dedup_index.index_probe_cycle_sql()
    r["dedup_index_probe"] = (
        lambda s, d: dedup_index.index_probe_cycle(s, _t(s, d, "documents")),
        probe_sql,
    )
    r["dedup_index_probe_bloom"] = (
        lambda s, d: dedup_index.index_probe_cycle_bloom(s, _t(s, d, "documents")),
        probe_sql,
    )
    # persistent LSH band index lifecycle (fuzzy twin of the exact
    # index). The oracle probes C against A's cells UNION B's ADMITTED
    # cells, min-id precedence within each batch; compaction (distinct
    # rewrite) cannot appear in the value algebra at all
    cycle = fuzzy_index.CYCLE_MOD
    r["fuzzy_index_probe"] = (
        lambda s, d: fuzzy_index.fuzzy_index_probe_cycle(s, _t(s, d, "documents")),
        f"""
{bands_cte},
a_idx AS (SELECT DISTINCT band, bucket FROM bands WHERE doc_id % {cycle} = 0),
bb AS (SELECT * FROM bands WHERE doc_id % {cycle} = 1),
b_first AS (SELECT band, bucket, min(doc_id) AS first_id FROM bb GROUP BY 1, 2),
b_flags AS (
  SELECT d.doc_id,
    (SELECT count(DISTINCT x.band) FROM bb x JOIN a_idx i
       ON x.band = i.band AND x.bucket = i.bucket
     WHERE x.doc_id = d.doc_id) AS n_hit,
    EXISTS (SELECT 1 FROM bb x JOIN b_first f
              ON x.band = f.band AND x.bucket = f.bucket
            WHERE x.doc_id = d.doc_id AND f.first_id < d.doc_id) AS b_dup
  FROM (SELECT doc_id FROM documents WHERE doc_id % {cycle} = 1) d
),
idx2 AS (
  SELECT band, bucket FROM a_idx
  UNION
  SELECT band, bucket FROM bb
  WHERE doc_id IN (SELECT doc_id FROM b_flags WHERE n_hit = 0 AND NOT b_dup)
),
cc AS (SELECT * FROM bands WHERE doc_id % {cycle} = 2),
c_first AS (SELECT band, bucket, min(doc_id) AS first_id FROM cc GROUP BY 1, 2)
SELECT d.doc_id,
  CAST((SELECT count(DISTINCT x.band) FROM cc x JOIN idx2 i
          ON x.band = i.band AND x.bucket = i.bucket
        WHERE x.doc_id = d.doc_id) AS BIGINT) AS n_hit_bands,
  EXISTS (SELECT 1 FROM cc x JOIN c_first f
            ON x.band = f.band AND x.bucket = f.bucket
          WHERE x.doc_id = d.doc_id AND f.first_id < d.doc_id)
    AS batch_near_dup,
  ((SELECT count(DISTINCT x.band) FROM cc x JOIN idx2 i
      ON x.band = i.band AND x.bucket = i.bucket
    WHERE x.doc_id = d.doc_id) > 0) AS near_dup_of_corpus,
  ((SELECT count(DISTINCT x.band) FROM cc x JOIN idx2 i
      ON x.band = i.band AND x.bucket = i.bucket
    WHERE x.doc_id = d.doc_id) = 0
   AND NOT EXISTS (SELECT 1 FROM cc x JOIN c_first f
                     ON x.band = f.band AND x.bucket = f.bucket
                   WHERE x.doc_id = d.doc_id AND f.first_id < d.doc_id))
    AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % {cycle} = 2) d
""",
    )
    # signature-agreement Jaccard estimate per LSH candidate pair (the
    # text-free verify stage between banding and exact Jaccard)
    agree_sum = " + ".join(
        f"CASE WHEN s1.mh{k} = s2.mh{k} THEN 1 ELSE 0 END"
        for k in range(dedup.N_MINHASH)
    )
    r["minhash_jaccard_estimate"] = (
        lambda s, d: dedup.minhash_jaccard_estimate(_t(s, d, "documents")),
        f"""
{bands_cte},
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  AND a.doc_id < b.doc_id
)
SELECT p.d1, p.d2,
       CAST({agree_sum} AS BIGINT) AS n_agree,
       round(CAST({agree_sum} AS DOUBLE) / {float(dedup.N_MINHASH)}, 6)
         AS est_jaccard
FROM pairs p JOIN sig s1 ON p.d1 = s1.doc_id JOIN sig s2 ON p.d2 = s2.doc_id
""",
    )
    r["minhash_bands"] = (
        lambda s, d: dedup.minhash_bands(_t(s, d, "documents")),
        f"{bands_cte} SELECT doc_id, band, bucket FROM bands",
    )
    cand_sql = (
        f"{bands_cte} "
        "SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a "
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket "
        "AND a.doc_id < b.doc_id"
    )
    r["minhash_candidate_pairs"] = (
        lambda s, d: dedup.minhash_candidate_pairs(_t(s, d, "documents")),
        cand_sql,
    )
    sh = dedup.shingles_sql()
    jaccard_sql = f"""
WITH lim AS (SELECT * FROM documents WHERE doc_id < {JACCARD_MAX_DOC}),
sh AS (SELECT doc_id, unnest({sh}) AS s FROM lim),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, n_common,
  round(CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE), 6) AS jaccard
FROM (
  SELECT c.d1, c.d2, c.n_common, s1.n_sh AS n1, s2.n_sh AS n2
  FROM common c JOIN sizes s1 ON c.d1 = s1.doc_id JOIN sizes s2 ON c.d2 = s2.doc_id
)
WHERE round(CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE), 6) >= 0.2
"""
    r["ngram_jaccard_pairs"] = (
        lambda s, d: dedup.ngram_jaccard_pairs(
            _t(s, d, "documents").filter(F.col("doc_id") < JACCARD_MAX_DOC)
        ),
        jaccard_sql,
    )
    # LSH operating-point audit: banding recall/precision vs exact truth
    cand_capped = cand_sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE doc_id < {JACCARD_MAX_DOC})",
        1,
    )
    r["dedup_audit"] = (
        lambda s, d: dedup.dedup_audit(
            _t(s, d, "documents").filter(F.col("doc_id") < JACCARD_MAX_DOC)
        ),
        f"""
WITH truth AS (SELECT d1, d2 FROM ({jaccard_sql})),
cand AS (SELECT d1, d2 FROM ({cand_capped})),
j AS (SELECT (t.d1 IS NOT NULL) AS in_truth, (c.d1 IS NOT NULL) AS in_cand
      FROM truth t FULL OUTER JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2)
SELECT count(*) FILTER (in_truth)::BIGINT AS n_truth_pairs,
  count(*) FILTER (in_cand)::BIGINT AS n_candidate_pairs,
  count(*) FILTER (in_truth AND in_cand)::BIGINT AS n_hit,
  (count(*) FILTER (in_truth AND in_cand) * 1000000
     // nullif(count(*) FILTER (in_truth), 0))::BIGINT AS recall_ppm,
  (count(*) FILTER (in_truth AND in_cand) * 1000000
     // nullif(count(*) FILTER (in_cand), 0))::BIGINT AS precision_ppm
FROM j
""",
    )
    # frequent-shingle-pruned variant: boilerplate shingles (df > cap) are
    # dropped before the inverted-index self-join (the hot-posting-list
    # quadratic guard; sizes recomputed over retained shingles)
    r["ngram_jaccard_pruned"] = (
        lambda s, d: dedup.ngram_jaccard_pairs(
            _t(s, d, "documents").filter(F.col("doc_id") < JACCARD_MAX_DOC),
            max_df=JACCARD_MAX_DF,
        ),
        f"""
WITH lim AS (SELECT * FROM documents WHERE doc_id < {JACCARD_MAX_DOC}),
sh_all AS (SELECT doc_id, unnest({sh}) AS s FROM lim),
keepset AS (SELECT s FROM sh_all GROUP BY s HAVING count(*) <= {JACCARD_MAX_DF}),
sh AS (SELECT sh_all.doc_id, sh_all.s FROM sh_all JOIN keepset USING (s)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, n_common,
  round(CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE), 6) AS jaccard
FROM (
  SELECT c.d1, c.d2, c.n_common, s1.n_sh AS n1, s2.n_sh AS n2
  FROM common c JOIN sizes s1 ON c.d1 = s1.doc_id JOIN sizes s2 ON c.d2 = s2.doc_id
)
WHERE round(CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE), 6) >= 0.2
""",
    )
    ph = dedup.poly_hash_sql("x")
    votes = [
        f"coalesce(list_sum(list_transform(hashes, h -> CASE WHEN (h >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)), 0) AS v{j}"
        for j in range(16)
    ]
    sim_terms = " + ".join(f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
    r["simhash"] = (
        lambda s, d: dedup.simhash(_t(s, d, "documents")),
        f"""
WITH t AS (
  SELECT doc_id,
    list_transform({token_array_sql("lower(text)")}, x -> {ph}) AS hashes
  FROM documents
), v AS (SELECT doc_id, {', '.join(votes)} FROM t)
SELECT doc_id, CAST({sim_terms} AS BIGINT) AS simhash FROM v
""",
    )
    # C4-style corpus-level line dedup (census + scrub transform)
    r["line_dup_stats"] = (
        lambda s, d: dedup.line_dup_stats(_t(s, d, "documents")),
        """
WITH lines AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
),
nb AS (SELECT doc_id, md5(line) AS lh FROM lines WHERE trim(line) <> ''),
dfc AS (SELECT lh, count(DISTINCT doc_id) AS df FROM nb GROUP BY lh)
SELECT doc_id, count(*) AS n_lines,
  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
  round(coalesce(
    CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / nullif(CAST(count(*) AS DOUBLE), 0.0), 0.0), 6) AS dup_line_fraction
FROM nb JOIN dfc USING (lh) GROUP BY doc_id
""",
    )
    r |= _docs(dedup.boilerplate_by_source, dedup.boilerplate_by_source_sql)
    r |= _docs(dedup.dup_ngram_fraction, dedup.dup_ngram_fraction_sql)
    r["drop_duplicated_lines"] = (
        lambda s, d: dedup.drop_duplicated_lines(_t(s, d, "documents")),
        """
WITH split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
lines AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos FROM split
),
nb AS (SELECT doc_id, pos, line, md5(line) AS lh FROM lines WHERE trim(line) <> ''),
dfc AS (SELECT lh, count(DISTINCT doc_id) AS df FROM nb GROUP BY lh),
kept AS (SELECT nb.doc_id, nb.pos, nb.line FROM nb JOIN dfc USING (lh) WHERE df = 1),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
""",
    )
    r |= _docs(dedup.dup_span_stats, dedup.dup_span_stats_sql)
    r |= _docs(dedup.drop_duplicated_spans, dedup.drop_duplicated_spans_sql)
    r |= _docs(winnow.winnow_fingerprints, winnow.winnow_fingerprints_sql)
    r |= _docs(winnow.winnow_overlap_pairs, winnow.winnow_overlap_pairs_sql)
    # connected components over the candidate graph: min reachable doc_id
    # per node via a recursive CTE — algorithm-agnostic: the Spark
    # large-star/small-star rounds must land on the same fixed point
    clusters_sql = f"""
{bands_cte.replace("WITH ", "WITH RECURSIVE ", 1)},
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  AND a.doc_id < b.doc_id
),
edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
reach(doc_id, cluster) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d1, r.cluster FROM edges e JOIN reach r ON e.d2 = r.doc_id
)
SELECT doc_id, min(cluster) AS cluster FROM reach GROUP BY doc_id
"""
    r["dedup_clusters"] = (
        lambda s, d: dedup.dedup_clusters(_t(s, d, "documents")),
        clusters_sql,
    )
    r["dedup_cluster_sizes"] = (
        lambda s, d: dedup.cluster_size_histogram(_t(s, d, "documents")),
        f"""
WITH labels AS ({clusters_sql}),
sizes AS (SELECT cluster, count(*) AS cluster_size FROM labels GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1
""",
    )
    # fuzzy dedup as a selection mask: keep = min-id representative per
    # MinHash/LSH near-dup cluster
    r["fuzzy_dedup_keep"] = (
        lambda s, d: dedup.fuzzy_dedup_keep(_t(s, d, "documents")),
        f"SELECT doc_id, (cluster = doc_id) AS keep FROM ({clusters_sql})",
    )
    # quality-aware representative: keep the longest member per cluster
    r["fuzzy_dedup_keep_best"] = (
        lambda s, d: dedup.fuzzy_dedup_keep_best(_t(s, d, "documents")),
        f"""
WITH labels AS ({clusters_sql}),
scores AS (
  SELECT doc_id,
    CAST(coalesce(len({token_array_sql("text")}), 0) AS BIGINT) AS n_words
  FROM documents
),
r AS (
  SELECT l.doc_id, l.cluster, s.n_words,
    row_number() OVER (PARTITION BY l.cluster
                       ORDER BY s.n_words DESC, l.doc_id ASC) AS rn
  FROM labels l JOIN scores s USING (doc_id)
)
SELECT doc_id, cluster, n_words, (rn = 1) AS keep FROM r
""",
    )
    # PRODUCTION operating point (r5): candidate pairs at k=128 x 16
    # bands — the configuration BENCH/BASELINE.md publishes (recall 1.0,
    # precision 1.0 on sf0.1) — gate-verified, not just benchmarked; the
    # oracle replays all 128 generated affine hashes + 16 band md5s
    r["fuzzy_candidates_k128"] = (
        lambda s, d: dedup.minhash_candidate_pairs(
            _t(s, d, "documents"), n_hashes=128, n_bands=16
        ),
        dedup.minhash_candidate_pairs_sql(n_hashes=128, n_bands=16),
    )

    # -- vocabulary membership (J1 broadcast literal-set probe; the allow
    # list mimics a header-swallowed CSV: 'src0' is the swallowed row)
    srcs = ", ".join(f"'{x}'" for x in ALLOWED_SOURCES)
    r["source_compliance"] = (
        lambda s, d: vocab.source_compliance(_t(s, d, "documents"), ALLOWED_SOURCES),
        f"""
SELECT
  CAST(sum(CASE WHEN source IS NOT NULL AND source IN ({srcs}) THEN 1 ELSE 0 END)
    AS BIGINT) AS compliant,
  CAST(sum(CASE WHEN source IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS population,
  round(coalesce(
    CAST(sum(CASE WHEN source IS NOT NULL AND source IN ({srcs}) THEN 1 ELSE 0 END)
         AS DOUBLE)
    / nullif(CAST(sum(CASE WHEN source IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE),
             0.0), 0.0), 6) AS pct
FROM documents
""",
    )

    # -- J1 array-valued variant: per-record (compliant, population, pct)
    # over a synthesized multi-valued column. Element 1 is URI-shaped (can
    # match), element 2 is a literal (inflates the denominator, never
    # matches — validators.py:425-427), element 3 is sometimes NULL
    # (excluded from the population).
    def vocabulary_compliance(s: SparkSession, d: str) -> DataFrame:
        docs = _t(s, d, "documents")
        vals = F.array(
            F.concat(F.lit(VOCAB_URI_PREFIX), F.col("source")),
            F.col("source"),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                F.lit(VOCAB_URI_PREFIX + "src1"),
            ),
        )
        return vocab.vocabulary_compliance(
            docs.select("doc_id", vals.alias("vals")),
            "vals",
            [VOCAB_URI_PREFIX + x for x in ALLOWED_SOURCES],
        )

    uri_allowed = ", ".join(f"'{VOCAB_URI_PREFIX}{x}'" for x in ALLOWED_SOURCES)
    vc_hit = (
        f"v IS NOT NULL AND v IN ({uri_allowed}) "
        "AND regexp_matches(v, '^https?://')"
    )
    r["vocabulary_compliance"] = (
        vocabulary_compliance,
        f"""
WITH exploded AS (
  SELECT doc_id, unnest([
    '{VOCAB_URI_PREFIX}' || source,
    source,
    CASE WHEN doc_id % 5 = 0 THEN '{VOCAB_URI_PREFIX}src1' END
  ]) AS v
  FROM documents
)
SELECT doc_id,
  CAST(sum(CASE WHEN {vc_hit} THEN 1 ELSE 0 END) AS BIGINT) AS compliant,
  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS population,
  coalesce(
    CAST(sum(CASE WHEN {vc_hit} THEN 1 ELSE 0 END) AS DOUBLE)
    / nullif(CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 0.0),
    0.0) AS pct
FROM exploded GROUP BY doc_id
""",
    )

    # -- J2 label-chase fallback: lowercased equality OR substring-of-value
    # containment (validators.py:605-646). 'rc1' hits src1 by substring.
    lbl_eq = ", ".join(f"'{lab.lower()}'" for lab in VOCAB_LABELS)
    lbl_contains = " OR ".join(
        f"contains(lower(trim(source)), '{lab.lower()}')" for lab in VOCAB_LABELS
    )
    r["label_membership"] = (
        lambda s, d: _t(s, d, "documents").select(
            "doc_id",
            "source",
            vocab.label_membership(F.col("source"), VOCAB_LABELS).alias("label_ok"),
        ),
        "SELECT doc_id, source, coalesce("
        f"lower(trim(source)) IN ({lbl_eq}) OR {lbl_contains}, FALSE) AS label_ok "
        "FROM documents",
    )
    # -- J7 URL-status enrichment (broadcast status dimension)
    r["url_status_compliance"] = (
        lambda s, d: vocab.url_status_compliance(_t(s, d, "documents")),
        """
WITH status_dim AS (
  SELECT source,
    CASE WHEN length(source) % 7 = 0 THEN 404
         WHEN length(source) % 5 = 0 THEN 503
         ELSE 200 END AS status
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT d.source, s.status, count(*) AS n_docs, (s.status = 200) AS ok
FROM documents d JOIN status_dim s USING (source)
GROUP BY d.source, s.status
""",
    )

    # -- multimodal (fake media: magic header by doc_id % 4 || utf-8 text;
    # fingerprints defined over lowercase hex so DuckDB's VARCHAR-only
    # sha256 mirrors the Python mapInPandas decode exactly)
    media_cte = r"""
WITH m AS (
  SELECT doc_id,
    CASE (doc_id % 4)
      WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
      WHEN 2 THEN 'audio/wav' ELSE 'video/webm' END AS media_type,
    (CASE (doc_id % 4)
      WHEN 0 THEN '\x89PNG'::BLOB WHEN 1 THEN '\xFF\xD8\xFF'::BLOB
      WHEN 2 THEN 'RIFF'::BLOB ELSE '\x1AE\xDF\xA3'::BLOB END
     || encode(text)) AS payload
  FROM documents
)"""
    # DuckDB sum(INTEGER) yields HUGEINT (int128), which pandas renders as
    # float/object and the driver's value hash sees differently from
    # Spark's BIGINT — cast every integer-sum aggregate explicitly.
    r["media_stats"] = (
        lambda s, d: multimodal.media_stats(_media(s, d)),
        f"{media_cte} "
        "SELECT media_type AS sniffed_type, count(*) AS n_items, "
        "CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes, "
        "round(avg(octet_length(payload)), 4) AS avg_bytes FROM m GROUP BY media_type",
    )
    r["media_decode"] = (
        lambda s, d: multimodal.decode_media(_media(s, d)).select(
            "doc_id", "media_type", "n_bytes", "width", "height", "n_channels",
            "payload_sha",
        ),
        f"""{media_cte},
d AS (
  SELECT doc_id, media_type, octet_length(payload) AS n_bytes,
    sha256(lower(substr(hex(payload), 1, 128))) AS hd,
    sha256(lower(hex(payload))) AS payload_sha
  FROM m
)
SELECT doc_id, media_type, n_bytes,
  CAST(16 + {hex_int_sql('hd', 2)} % 240 AS INTEGER) AS width,
  CAST(16 + {hex_int_sql('hd', 2, 3)} % 240 AS INTEGER) AS height,
  CAST(1 + {hex_int_sql('hd', 2, 5)} % 4 AS INTEGER) AS n_channels,
  payload_sha
FROM d
""",
    )
    r["media_frame_sample"] = (
        lambda s, d: multimodal.frame_sample(_media(s, d)).select(
            "doc_id",
            F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
            F.col("frame_idx").cast("long").alias("frame_idx"),
        ),
        """
SELECT doc_id, frame_ts_ms, frame_ts_ms // 1000 AS frame_idx
FROM (
  SELECT doc_id,
    unnest(generate_series(0, CAST((doc_id % 9000) + 999 AS BIGINT), 1000))
      AS frame_ts_ms
  FROM documents WHERE (doc_id % 4) = 3
)
""",
    )

    # -- similarity search over embeddings
    bucket = similarity.lsh_bucket_sql("embedding")
    cos_q = similarity.cosine_sql("embedding", "q.q_emb")
    # embedding-table health check (dim/norm/zero/NaN per vector)
    r["embedding_qc"] = (
        lambda s, d: similarity.embedding_qc(_t(s, d, "embeddings")),
        similarity.embedding_qc_sql(),
    )
    r["embedding_topk"] = (
        lambda s, d: similarity.brute_force_topk(_t(s, d, "embeddings")),
        f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, round({cos_q}, 6) AS cos_sim
FROM embeddings, q WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
""",
    )
    r["lsh_bucket_histogram"] = (
        lambda s, d: similarity.lsh_bucket_histogram(_t(s, d, "embeddings")),
        f"SELECT {bucket} AS bucket, count(*) AS n_vecs FROM embeddings GROUP BY 1",
    )
    r["ann_topk"] = (
        lambda s, d: similarity.ann_topk(_t(s, d, "embeddings")),
        f"""
WITH wb AS (SELECT vec_id, label, embedding, {bucket} AS bucket FROM embeddings),
q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM wb WHERE vec_id = 0)
SELECT vec_id, label, round({cos_q}, 6) AS cos_sim
FROM wb, q WHERE wb.bucket = q.q_bucket AND vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
""",
    )
    # multi-probe LSH: one table, query probes its bucket + all
    # Hamming-1 neighbors (the narrow-margin miss repair)
    r["ann_topk_multiprobe"] = (
        lambda s, d: similarity.ann_topk_multiprobe(_t(s, d, "embeddings")),
        similarity.ann_topk_multiprobe_sql(),
    )
    mt_tables = [
        similarity.hyperplanes(
            similarity.ANN_MULTI_PLANES, seed=similarity.LSH_SEED + t
        )
        for t in range(similarity.ANN_N_TABLES)
    ]
    mt_buckets = ", ".join(
        f"{similarity.lsh_bucket_sql('embedding', planes=mt_tables[t])} AS b{t}"
        for t in range(similarity.ANN_N_TABLES)
    )
    mt_q = ", ".join(f"b{t} AS qb{t}" for t in range(similarity.ANN_N_TABLES))
    mt_collide = " OR ".join(
        f"wb.b{t} = q.qb{t}" for t in range(similarity.ANN_N_TABLES)
    )
    r["ann_topk_multi"] = (
        lambda s, d: similarity.ann_topk_multi(_t(s, d, "embeddings")),
        f"""
WITH wb AS (SELECT vec_id, label, embedding, {mt_buckets} FROM embeddings),
q AS (SELECT embedding AS q_emb, {mt_q} FROM wb WHERE vec_id = 0)
SELECT vec_id, label, round({cos_q}, 6) AS cos_sim
FROM wb, q WHERE ({mt_collide}) AND vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
""",
    )
    cos_ab = similarity.cosine_sql("a.embedding", "b.embedding")
    r["embedding_near_dup"] = (
        lambda s, d: similarity.embedding_near_dup_pairs(_t(s, d, "embeddings")),
        f"""
WITH wb AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
SELECT a.vec_id AS v1, b.vec_id AS v2, round({cos_ab}, 6) AS cos_sim
FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({cos_ab}, 6) >= 0.3
""",
    )
    cos_ec = similarity.cosine_sql("e.embedding", "c.c_emb")
    cos_cq = similarity.cosine_sql("c_emb", "q_emb")
    cos_aq = similarity.cosine_sql("a.embedding", "q.q_emb")
    ivf_cte = f"""
WITH cents AS (SELECT vec_id AS cell_id, embedding AS c_emb FROM embeddings
               WHERE vec_id < {similarity.IVF_K}),
assigned AS (
  SELECT vec_id, label, embedding, cell_id FROM (
    SELECT e.vec_id, e.label, e.embedding, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({cos_ec}, 6) DESC, c.cell_id ASC) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
)"""
    r["ivf_topk"] = (
        lambda s, d: similarity.ivf_topk(_t(s, d, "embeddings")),
        f"""{ivf_cte},
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
probe AS (SELECT cell_id FROM cents, q
          ORDER BY round({cos_cq}, 6) DESC, cell_id ASC LIMIT {similarity.IVF_NPROBE})
SELECT a.vec_id, a.label, round({cos_aq}, 6) AS cos_sim
FROM assigned a JOIN probe USING (cell_id), q
WHERE a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 10
""",
    )
    # trained-IVF: 3 Lloyd rounds (one job each) then the same probe —
    # the oracle replays the identical training as chained SQL CTEs
    r["ivf_topk_trained"] = (
        lambda s, d: similarity.ivf_topk_trained(_t(s, d, "embeddings")),
        similarity.ivf_trained_sql(),
    )
    r["ivf_cell_histogram"] = (
        lambda s, d: (
            similarity.ivf_assign(_t(s, d, "embeddings"))
            .groupBy("cell_id")
            .agg(F.count("*").alias("n_vecs"))
        ),
        f"{ivf_cte} SELECT cell_id, count(*) AS n_vecs FROM assigned GROUP BY cell_id",
    )
    r["pq_topk_trained"] = (
        lambda s, d: pq.pq_topk_trained(_t(s, d, "embeddings")),
        pq.pq_trained_sql(),
    )
    # PQ index-balance readout (dead/hot codes), same trained codebooks
    r["pq_code_histogram"] = (
        lambda s, d: pq.pq_code_histogram(_t(s, d, "embeddings")),
        pq.pq_code_histogram_sql(),
    )
    r["ivfpq_topk"] = (
        lambda s, d: pq.ivfpq_topk(_t(s, d, "embeddings")),
        pq.ivfpq_sql(),
    )
    r["ivfpq_residual_topk"] = (
        lambda s, d: pq.ivfpq_residual_topk(_t(s, d, "embeddings")),
        pq.ivfpq_residual_sql(),
    )
    r["semantic_dedup"] = (
        lambda s, d: similarity.semantic_dedup(_t(s, d, "embeddings")),
        similarity.semantic_dedup_sql(),
    )
    r |= _docs(contamination.decontaminate, contamination.decontaminate_sql)
    # bloom-gated variant: the benchmark suite rides as a broadcast
    # BITMAP (m/8 bytes) instead of a broadcast set — FPs only overcount
    # (a conservative pre-gate for the exact join)
    r |= _docs(contamination.decontaminate_bloom, contamination.decontaminate_bloom_sql)

    # -- relational coverage (joins, conditional agg)
    def tpch_q1(s: SparkSession, d: str) -> DataFrame:
        li = _t(s, d, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                F.count("*").alias("count_order"),
            )
        )

    r["tpch_q1"] = (
        tpch_q1,
        """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    )

    def orders_by_nation(s: SparkSession, d: str) -> DataFrame:
        o = _t(s, d, "orders")
        c = _t(s, d, "customer")
        n = _t(s, d, "nation")
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
            )
        )

    r["orders_by_nation"] = (
        orders_by_nation,
        """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    )

    def top_parts_by_revenue(s: SparkSession, d: str) -> DataFrame:
        li = _t(s, d, "lineitem")
        p = _t(s, d, "part")
        rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        return (
            li.join(p, li.l_partkey == p.p_partkey)
            .groupBy("p_partkey", "p_name")
            .agg(F.round(rev, 2).alias("revenue"), F.count("*").alias("n_lines"))
            .orderBy(F.desc("revenue"), F.asc("p_partkey"))
            .limit(10)
        )

    r["top_parts_by_revenue"] = (
        top_parts_by_revenue,
        """
SELECT p_partkey, p_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name
ORDER BY revenue DESC, p_partkey ASC LIMIT 10
""",
    )

    def suppliers_by_region(s: SparkSession, d: str) -> DataFrame:
        su = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        rg = _t(s, d, "region")
        return (
            su.join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
            .join(F.broadcast(rg), n.n_regionkey == rg.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_suppliers"),
                F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
            )
        )

    r["suppliers_by_region"] = (
        suppliers_by_region,
        """
SELECT r_name, count(*) AS n_suppliers, round(avg(s_acctbal), 4) AS avg_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    )

    def tpch_q3(s: SparkSession, d: str) -> DataFrame:
        """TPC-H Q3 shipping-priority: 3-table join, grouped revenue,
        top-10. Plan shape for scale: customer(segment-filtered) joins
        orders on custkey, the result joins lineitem on orderkey — both
        are key-partitioned shuffle joins (customer is NOT broadcast:
        at full scale it is a fact-sized table; AQE may still elect a
        broadcast at small SF, which is exactly the runtime re-plan we
        want). Dates use this corpus's 1995-2001 synthetic range."""
        c = _t(s, d, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        o = _t(s, d, "orders").filter(
            F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
        )
        li = _t(s, d, "lineitem").filter(
            F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue")
            )
            .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
            .limit(10)
        )

    r["tpch_q3"] = (
        tpch_q3,
        """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10
""",
    )

    def tpch_q5(s: SparkSession, d: str) -> DataFrame:
        """TPC-H Q5 local-supplier volume: 6-table join with the
        c_nationkey = s_nationkey co-location condition. Scale shape:
        lineitem⨝orders and ⨝customer shuffle on their keys; supplier
        is left un-hinted (borderline at scale — AQE decides);
        nation/region are broadcast (bounded dims). The region filter
        reaches the scan through the broadcast join's runtime filter."""
        c = _t(s, d, "customer")
        o = _t(s, d, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        li = _t(s, d, "lineitem")
        su = _t(s, d, "supplier")
        n = _t(s, d, "nation")
        rg = _t(s, d, "region").filter(F.col("r_name") == "ASIA")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(
                su,
                (li.l_suppkey == su.s_suppkey)
                & (c.c_nationkey == su.s_nationkey),
            )
            .join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
            .join(F.broadcast(rg), n.n_regionkey == rg.r_regionkey)
            .groupBy("n_name")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
                F.count("*").alias("n_lines"),
            )
        )

    r["tpch_q5"] = (
        tpch_q5,
        """
SELECT n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
    )
    return r


# The driver's CORRECTNESS window covers roughly the first 50 queries()
# entries in dict-insertion order, and queries() has outgrown it every
# round — a hand-curated priority list went stale twice (VERDICT r2/r3
# "What's wrong #1"). The ordering is now SELF-AIMING: any query without
# a driver-green row in any committed CORRECTNESS_r*.json sorts first (in
# its natural dict order), already-verified queries follow. New queries
# are unverified by construction, so they land inside the window with no
# manual curation; once a round records them green they rotate out.
def _verified_latest_round() -> dict[str, int]:
    """Latest round in which each query got a driver-recorded green
    CORRECTNESS row. green = rows+schema+hash matched vs the DuckDB
    oracle, or the documented rows-only case (err == 'no_oracle') where
    the driver recorded a row count — re-running that one burns a
    window slot without ever producing a stronger signal."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            green = (
                r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            )
            rows_only = (
                r.get("err") == "no_oracle" and r.get("spark_rows") is not None
            )
            if green or rows_only:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _driver_verified() -> set[str]:
    return set(_verified_latest_round())


def _prioritize(q: dict) -> dict:
    """Unverified queries first (in natural order); the verified tail
    is ordered by STALENESS — least-recently-green first, natural order
    within a round — so the window slots left after the unverified set
    rotate re-verification across rounds instead of re-checking the
    same early-dict entries forever."""
    latest = _verified_latest_round()
    names = list(q)
    order = sorted(range(len(names)), key=lambda i: (latest.get(names[i], -1), i))
    return {names[i]: q[names[i]] for i in order}
