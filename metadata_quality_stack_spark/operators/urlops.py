"""URL normalization, URL-level dedup, and per-domain skew stats.

Common-Crawl curation keys every page by url (north-rule input_hint:
``url:string`` is the id column; the reference keys its quality reports
by the record's access URL, src/api/main.py:141-167). Before any
url-keyed dedup or per-domain accounting, crawl URLs need canonical
form: scheme/case/www/fragment/tracking-param/trailing-slash noise
otherwise splits one logical page across many keys.

Every step here is a native JVM expression (regexp_replace chain —
codegen, no UDF), so normalization rides the scan projection for free;
dedup is one hash exchange on the normalized key and domain stats one
partial-agged groupBy — the same scale shape as exact_dedup.

Dialect parity (the gate runs the same logic in DuckDB): patterns stay
in the Java/RE2 common subset — no backrefs in patterns, no lookaround
(RE2 has neither); DuckDB's regexp_replace replaces the FIRST match
unless passed the 'g' flag, so the SQL mirror passes 'g' wherever
Spark's replace-all semantics matter, and the one capture reference is
``$1`` (Java) vs ``\\1`` (RE2).

The tracking-param strip uses the unify trick: rewrite ``?`` to ``&``
so every param has the same separator, strip ``&utm_...`` globally,
then turn the FIRST remaining ``&`` back into ``?`` with an anchored
pattern (anchored => at most one match, so replace-all == replace-first
in both engines). This handles the hard case ``?utm_source=x&ref=r``
-> ``?ref=r`` that a naive ``[?&]utm...`` strip leaves dangling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# _h60_url: the 60-bit priority / content hash, imported under this name
# by the sink, job.py and bench.py
from metadata_quality_stack_spark.functions.hashing import h60 as _h60_url, md5_int_sql

# one tracking param with its '&' separator (runs after ? -> & unify)
_TRACK = "&(utm_[a-z]+|fbclid|gclid)=[^&]*"


def normalize_url(url: Column) -> Column:
    """Canonical URL: lowercase; drop scheme, leading www., #fragment;
    drop a trailing slash (bare or just before the query); drop
    utm_*/fbclid/gclid tracking params while repairing the query
    separator. Pure codegen expression chain — ~8 single-pass scans of a
    ~100-byte string per row, negligible next to the document text.
    """
    u = F.lower(url)
    u = F.regexp_replace(u, "^https?://", "")
    u = F.regexp_replace(u, "^www\\.", "")
    u = F.regexp_replace(u, "#.*$", "")
    u = F.regexp_replace(u, "/([?]|$)", "$1")  # trailing slash
    u = F.replace(u, F.lit("?"), F.lit("&"))   # unify separators
    u = F.regexp_replace(u, _TRACK, "")        # strip tracking params
    u = F.regexp_replace(u, "&$", "")          # query emptied entirely
    return F.regexp_replace(u, "^([^&]*)&", "$1?")  # first & back to ?


def normalize_url_sql(url: str) -> str:
    """DuckDB mirror of :func:`normalize_url` (same step order; 'g' flag
    where Spark replaces all; ``\\1`` for RE2 capture refs)."""
    u = f"lower({url})"
    u = f"regexp_replace({u}, '^https?://', '')"
    u = f"regexp_replace({u}, '^www\\.', '')"
    u = f"regexp_replace({u}, '#.*$', '')"
    u = f"regexp_replace({u}, '/([?]|$)', '\\1', 'g')"
    u = f"replace({u}, '?', '&')"
    u = f"regexp_replace({u}, '{_TRACK}', '', 'g')"
    u = f"regexp_replace({u}, '&$', '')"
    return f"regexp_replace({u}, '^([^&]*)&', '\\1?')"


def url_normalize(pages: DataFrame) -> DataFrame:
    """Projection: id + raw url + canonical url. Map-only."""
    return pages.select(
        "doc_id",
        "url",
        normalize_url(F.col("url")).alias("url_norm"),
    )


def url_dedup(pages: DataFrame) -> DataFrame:
    """One surviving row per canonical URL: min doc_id (deterministic
    representative) + how many raw rows collapsed into it.

    100 TB shape: rows shrink to (url_norm, doc_id) before the exchange
    — the page text never shuffles; at real scale swap url_norm for
    xxhash64(url_norm) so the shuffle key is 8 bytes (same pattern as
    exact_dedup's fingerprint, operators/dedup.py).
    """
    return (
        pages.select(normalize_url(F.col("url")).alias("url_norm"), "doc_id")
        .groupBy("url_norm")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


def latest_snapshot_per_url(pages: DataFrame) -> DataFrame:
    """Newest capture wins: one row per canonical URL, the one with the
    greatest ``warc_ts`` (ties broken by greatest id — deterministic).
    The recrawl-collapse step a Common-Crawl ingest runs before scoring:
    the same page fetched across N monthly crawls must count once, as
    its freshest snapshot.

    Shape: max_by single hash aggregation — map-side partial keeps one
    slim winner per key per partition, so the exchange never carries the
    page text; a window row_number() would sort whole partitions for
    the same answer.

    The (ts, id) lexicographic ordering is packed into ONE
    DECIMAL(38,0): ``ts * 10^19 + id``. The obvious
    ``max(struct(ts, id))`` / ``max_by(..., struct(...))`` formulations
    compile to SortAggregate — Spark's hash aggregate requires
    fixed-width mutable buffer fields, which structs (and strings!) are
    not — re-introducing exactly the per-partition sort this
    formulation exists to avoid. A 128-bit decimal IS fixed-width, fits
    ts*10^19 + id exactly for every long ts (9.2e37 + 9.2e18 < 1e38),
    and stays in whole-stage codegen. Precondition: ``doc_id`` >= 0
    (band packing; any long ts is fine) — plan + tie semantics are
    regression-tested in tests/test_urlops.py.
    """
    u = normalize_url(F.col("url"))
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")  # 10^19
    ordv = (
        F.col("warc_ts").cast("decimal(19,0)") * shift
        + F.col("doc_id").cast("decimal(38,0)")
    )
    return (
        pages.select(
            u.alias("url_norm"),
            F.col("doc_id"),
            F.col("warc_ts"),
            ordv.alias("_ord"),
        )
        .groupBy("url_norm")
        .agg(
            F.max_by("doc_id", F.col("_ord")).alias("doc_id"),
            F.max_by("warc_ts", F.col("_ord")).alias("warc_ts"),
            F.count("*").alias("n_snapshots"),
        )
    )


def domain_of(url_norm: Column) -> Column:
    """Host part of an already-normalized URL (everything before the
    first '/' or query separator, minus any :port)."""
    host = F.regexp_extract(url_norm, "^([^/?&]+)", 1)
    return F.regexp_replace(host, ":[0-9]+$", "")


def blocklist_filter(pages: DataFrame, blocked) -> DataFrame:
    """Drop every page whose (normalized) domain is on a blocklist —
    the C4-style badwords/domain exclusion step that runs before any
    scoring spend.

    ``blocked`` is either a ``list[str]`` of domains — compiled to a
    literal IN-list predicate, pure codegen, rides the scan projection
    (the right shape for a config-sized list) — or a one-column
    DataFrame — broadcast hash anti-join, the right shape for a
    multi-million-entry blocklist that lives in a table (still no
    shuffle of the pages side; only the blocklist moves).
    """
    dom = domain_of(normalize_url(F.col("url")))
    if isinstance(blocked, (list, tuple)):
        return pages.where(~dom.isin(*blocked))
    bl = blocked.select(F.col(blocked.columns[0]).alias("_blocked_domain"))
    return (
        pages.withColumn("_domain", dom)
        .join(
            F.broadcast(bl),
            F.col("_domain") == F.col("_blocked_domain"),
            "left_anti",
        )
        .drop("_domain")
    )


def domain_stats(pages: DataFrame) -> DataFrame:
    """Per-domain crawl-skew readout: raw rows, distinct canonical URLs,
    mean document size. THE table an operator reads before choosing
    salting factors — Zipf-heavy crawl shards show up as one domain
    holding orders of magnitude more rows than the median.

    count(distinct url_norm) is exact here (gate readout); at 100 TB use
    approx_count_distinct — same plan shape, two-stage partial agg.
    """
    u = normalize_url(F.col("url"))
    return (
        pages.select(
            domain_of(u).alias("domain"),
            u.alias("url_norm"),
            F.col("n_chars"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("url_norm").alias("n_urls"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def domain_cap(pages: DataFrame, k: int, salt_buckets: int = 16) -> DataFrame:
    """FineWeb-style per-domain document cap: keep at most ``k`` pages
    per registered domain, priority = smallest md5-derived hash of the
    canonical url (deterministic and crawl-order-free; ``doc_id``
    breaks exact-hash ties). Caps the boilerplate-heavy mega-domains a
    Zipf crawl otherwise floods the corpus with (reference analog: the
    per-catalog record cap in its batch evaluator; FineWeb §3.4 is the
    public recipe).

    Skew shape at 100 TB: ONE global window over a Zipf key is the
    canonical straggler — the hottest domain lands on a single task.
    The plan here is TWO-PHASE: a partial cap within (domain, salt)
    first, salt = id % S, so any domain enters the final exchange with
    at most S*k rows no matter how many it started with; then the
    exact per-domain window runs on that bounded survivor set. Phase 1
    keeps a SUPERSET of the global top-k (any row in a domain's global
    top-k is in the top-k of its own salt bucket), so the two-phase
    result is identical to the single-window formulation the oracle
    states — asserted in tests/test_urlops.py.

    Columns: doc_id, domain, rk (1-based keep rank within domain).
    """
    from pyspark.sql import Window

    u = normalize_url(F.col("url"))
    base = pages.select(
        "doc_id",
        domain_of(u).alias("domain"),
        _h60_url(u).alias("_pri"),
    )
    partial = Window.partitionBy(
        "domain", (F.col("doc_id") % salt_buckets).alias("_salt")
    ).orderBy("_pri", "doc_id")
    survivors = base.withColumn(
        "_prk", F.row_number().over(partial)
    ).where(F.col("_prk") <= k)
    exact = Window.partitionBy("domain").orderBy("_pri", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(exact).cast("long"))
        .where(F.col("rk") <= k)
        .select("doc_id", "domain", "rk")
    )


def domain_cap_sql(syn_pages: str, k: int) -> str:
    """DuckDB mirror — the SINGLE-window statement of the semantics the
    two-phase plan must reproduce exactly."""
    return f"""
WITH pages AS ({syn_pages}),
n AS (SELECT doc_id,
        regexp_replace(regexp_extract({normalize_url_sql('url')},
                       '^([^/?&]+)', 1), ':[0-9]+$', '') AS domain,
        {md5_int_sql(normalize_url_sql('url'), 15)} AS pri
      FROM pages),
r AS (SELECT doc_id, domain,
        row_number() OVER (PARTITION BY domain ORDER BY pri, doc_id) AS rk
      FROM n)
SELECT doc_id, domain, rk FROM r WHERE rk <= {k}
"""


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Crawl-over-crawl delta: classify every canonical url as added /
    removed / changed / unchanged between two snapshots and count each
    class — the readout an ingest pipeline checks before paying for a
    full re-score of the new crawl (recrawl churn is typically a small
    fraction of the corpus).

    Scale shape: each side first collapses to ONE slim row per url
    (url, min content-hash — min() makes multi-capture urls
    deterministic), so the full-outer join exchanges 8-byte hashes
    keyed by url; document text never moves. Status derives from hash
    presence/equality; the final count is a 4-key aggregate.

    Columns: status, n_urls.
    """
    def side(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                "url_norm",
                _h60_url(F.col("text")).alias(out),
            )
            .groupBy("url_norm")
            .agg(F.min(out).alias(out))
        )

    j = side(old, "h_old").join(side(new, "h_new"), "url_norm", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_urls"))
    )


def snapshot_diff_sql(old_pages: str, new_pages: str) -> str:
    h = md5_int_sql("text", 15)
    return f"""
WITH a AS (SELECT url_norm, min({h}) AS h_old FROM ({old_pages}) GROUP BY 1),
b AS (SELECT url_norm, min({h}) AS h_new FROM ({new_pages}) GROUP BY 1),
j AS (SELECT CASE WHEN h_old IS NULL THEN 'added'
                  WHEN h_new IS NULL THEN 'removed'
                  WHEN h_old <> h_new THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b USING (url_norm))
SELECT status, count(*) AS n_urls FROM j GROUP BY status
"""


def rescore_delta(old_scored: DataFrame, new_pages: DataFrame, score_fn) -> DataFrame:
    """Incremental crawl re-score — the production answer to "a new
    crawl arrived, how little can we recompute?": every url of the NEW
    snapshot whose content hash matches the PREVIOUS snapshot carries
    its stored score forward untouched; only added/changed urls (the
    recrawl-churn minority) flow through ``score_fn`` (the full scoring
    pipeline). Removed urls drop. Composes :func:`snapshot_diff`'s
    hash-presence classification with the scoring machinery.

    Scale shape: both snapshots collapse to (url, 60-bit content hash)
    before any join — the carried majority never moves text; document
    text is joined back ONLY for the changed/added urls (one
    deterministic min-id capture per url), so the scoring pipeline's
    cost scales with churn, not corpus size. Multi-capture urls are
    deterministic end-to-end: the old side keeps the min-hash capture's
    score (identical hash => identical text => identical score, so the
    per-(url, hash) agg is value-free), the new side scores the min-id
    capture of the min hash.

    ``old_scored`` needs (url_norm, text, total_score, rating, keep);
    ``new_pages`` needs (url_norm, text, doc_id) plus whatever
    ``score_fn`` consumes. Output: url_norm, action
    ('carried' | 'scored'), total_score, rating, keep."""
    h = _h60_url  # content hash, the same 60-bit md5 as snapshot_diff
    old_bh = (
        old_scored.select(
            "url_norm", h(F.col("text")).alias("h"), "total_score", "rating", "keep"
        )
        .groupBy("url_norm", "h")
        .agg(
            F.min("total_score").alias("total_score"),
            F.min("rating").alias("rating"),
            F.min("keep").alias("keep"),
        )
    )
    old_slim = (
        old_bh.groupBy("url_norm")
        .agg(F.min(F.struct("h", "total_score", "rating", "keep")).alias("st"))
        .select(
            "url_norm",
            F.col("st.h").alias("h_old"),
            F.col("st.total_score").alias("total_score"),
            F.col("st.rating").alias("rating"),
            F.col("st.keep").alias("keep"),
        )
    )
    new_best = (
        new_pages.select("url_norm", h(F.col("text")).alias("h_new"))
        .groupBy("url_norm")
        .agg(F.min("h_new").alias("h_new"))
    )
    j = new_best.join(old_slim, "url_norm", "left")
    carried = j.filter(F.col("h_old") == F.col("h_new")).select(
        "url_norm",
        F.lit("carried").alias("action"),
        "total_score",
        "rating",
        "keep",
    )
    need = j.filter(
        F.col("h_old").isNull() | (F.col("h_old") != F.col("h_new"))
    ).select("url_norm", "h_new")
    # need derives from new_pages, so need.url_norm and new_pages.url_norm resolve to
    # the SAME attribute — Spark only rescues that self-join by detecting
    # the trivially-true predicate and repointing one side (with a
    # warning). Rename the probe key instead so the join condition is
    # unambiguous by construction.
    need_r = need.select(F.col("url_norm").alias("_need_u"), "h_new")
    cand = new_pages.withColumn("h", h(F.col("text"))).join(
        need_r,
        on=[F.col("url_norm") == F.col("_need_u"), F.col("h") == F.col("h_new")],
    ).select(new_pages["*"])
    pick = cand.groupBy("url_norm").agg(F.min("doc_id").alias("doc_id"))
    sel = cand.join(pick, ["url_norm", "doc_id"])
    scored = score_fn(sel).select(
        "url_norm",
        F.lit("scored").alias("action"),
        "total_score",
        "rating",
        "keep",
    )
    return carried.unionByName(scored)


def _count_char(col: Column, ch: str) -> Column:
    return (
        F.length(col) - F.length(F.replace(col, F.lit(ch), F.lit("")))
    ).cast("long")


URL_SPAM_WORDS = ("porn", "xxx", "casino", "viagra", "poker", "escort")
# a spam word counts only as a whole url segment: both ends sit at the
# url's start/end or at a '.', '/' or '-' separator, so 'escorted-tours'
# and 'pokerun' do not hit. One pattern for both engines (Java regex and
# DuckDB's RE2 read it the same way).
URL_SPAM_PATTERN = "(^|[./-])(" + "|".join(URL_SPAM_WORDS) + ")([./-]|$)"


def url_feature_census(pages: DataFrame) -> DataFrame:
    """Structural URL features + soft spam score (RefinedWeb §3.1 /
    FineWeb URL filtering: before any text is fetched or scored, the
    URL itself carries signal — adult-keyword hits, digit-heavy hosts
    and paths, hyphen-stuffed domains, deep subdomain chains). Filtering
    on it is free relative to everything downstream: it prunes fetch +
    extraction + scoring for pages nothing else would drop until much
    later.

    All-native single-pass string expressions on the ~100-byte url
    (count-by-replace and one separator-anchored alternation rlike,
    ``URL_SPAM_PATTERN``), MAP-ONLY —
    fuses into the scan, composes with partition pruning; the score is
    an integer weighted sum so both engines agree exactly.

    A null url reads as '' (every feature 0) in both engines: Spark's
    rlike/contains would propagate the null where DuckDB's CASE maps
    it to 0.

    ``subdomain_depth`` counts the dots of the normalized host, not its
    subdomain labels: after the leading ``www.`` is dropped, a bare
    ``example.com`` already reads 1 and ``a.b.example.com`` reads 3.

    Columns: doc_id, url_len, path_depth, n_digits, subdomain_depth,
    n_hyphens_host, has_query, spam_word_hit, url_spam_score."""
    url = F.coalesce(F.col("url"), F.lit(""))
    u = F.lower(url)
    nu = normalize_url(url)
    host = domain_of(nu)
    feats = pages.select(
        "doc_id",
        F.length(u).cast("long").alias("url_len"),
        _count_char(nu, "/").alias("path_depth"),
        (
            F.length(u) - F.length(F.regexp_replace(u, "[0-9]", ""))
        )
        .cast("long")
        .alias("n_digits"),
        _count_char(host, ".").alias("subdomain_depth"),
        _count_char(host, "-").alias("n_hyphens_host"),
        nu.contains("?").cast("int").alias("has_query"),
        u.rlike(URL_SPAM_PATTERN)
        .cast("int")
        .alias("spam_word_hit"),
    )
    score = (
        F.col("spam_word_hit") * 2
        + (F.col("n_digits") > 5).cast("int")
        + (F.col("n_hyphens_host") > 2).cast("int")
        + (F.col("url_len") > 96).cast("int")
        + (F.col("subdomain_depth") > 3).cast("int")
    )
    return feats.withColumn("url_spam_score", score.cast("int"))


def url_feature_census_sql(syn_pages: str) -> str:
    """DuckDB mirror of :func:`url_feature_census` (same normalize chain,
    same count-by-replace arithmetic, same weights, same null-as-'')."""
    url = "coalesce(url, '')"
    u = f"lower({url})"
    nu = normalize_url_sql(url)
    host = f"regexp_replace(regexp_extract({nu}, '^([^/?&]+)', 1), ':[0-9]+$', '')"
    return f"""
WITH feats AS (
  SELECT doc_id,
    length({u})::BIGINT AS url_len,
    (length({nu}) - length(replace({nu}, '/', '')))::BIGINT AS path_depth,
    (length({u}) - length(regexp_replace({u}, '[0-9]', '', 'g')))::BIGINT
      AS n_digits,
    (length({host}) - length(replace({host}, '.', '')))::BIGINT
      AS subdomain_depth,
    (length({host}) - length(replace({host}, '-', '')))::BIGINT
      AS n_hyphens_host,
    (CASE WHEN contains({nu}, '?') THEN 1 ELSE 0 END)::INT AS has_query,
    (CASE WHEN regexp_matches({u}, '{URL_SPAM_PATTERN}') THEN 1 ELSE 0 END)::INT
      AS spam_word_hit
  FROM ({syn_pages}))
SELECT *, (spam_word_hit * 2
           + CASE WHEN n_digits > 5 THEN 1 ELSE 0 END
           + CASE WHEN n_hyphens_host > 2 THEN 1 ELSE 0 END
           + CASE WHEN url_len > 96 THEN 1 ELSE 0 END
           + CASE WHEN subdomain_depth > 3 THEN 1 ELSE 0 END)::INT
  AS url_spam_score
FROM feats
"""
