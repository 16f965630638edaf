"""Text-analysis operators: token stats, heuristic language-ID,
document fingerprinting, PII scrub projection.

The heuristic langid here is the SQL-expressible stopword-vote variant
(argmax over per-language stopword hit counts, first-in-order tiebreak);
the model langid (hashed char-n-gram, fastText-style) lives in
functions/langid.py as a pandas UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark import config
from metadata_quality_stack_spark.functions.scrub import scrub_columns
from metadata_quality_stack_spark.functions.text import (
    WS_CLASS,
    chars_matching,
    collapsed_lower,
    safe_div,
    token_array,
    token_array_sql,
    word_ngrams,
)

LANG_ORDER = list(config.STOPWORDS_BY_LANG)
TERM_STATS_LIMIT = 50
STOPWORD_MIN_DISTINCT = 2
STOPWORD_MIN_PPM = 20_000


def token_stats(docs: DataFrame) -> DataFrame:
    text = F.col("text")
    toks = token_array(text)
    lows = F.array_distinct(token_array(F.lower(text)))
    n = F.size(toks)
    sum_len = F.length(text) - chars_matching(text, WS_CLASS)
    sw = F.array(*[F.lit(s) for s in config.STOPWORDS_EN])
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.size(lows).cast("long").alias("n_distinct_words"),
        F.round(safe_div(sum_len, n), 6).alias("mean_word_len"),
        F.round(
            safe_div(F.size(F.array_intersect(lows, sw)), F.size(lows)), 6
        ).alias("stopword_density"),
    )


def langid_heuristic(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-vote language-ID: hits per language set, argmax with
    first-in-LANG_ORDER tiebreak (matches langid_heuristic_sql).
    ``extra_cols`` are passed through unchanged (e.g. ``source`` for the
    per-shard mismatch rollup)."""
    lows = F.transform(token_array(F.col("text")), lambda x: F.lower(x))

    def hits(sw: list[str]):
        return F.size(F.filter(lows, lambda x: x.isin(*sw)))

    scores = {lang: hits(sw) for lang, sw in config.STOPWORDS_BY_LANG.items()}
    best = F.greatest(*scores.values())
    # CASE WHEN s_l1 = best THEN l1 WHEN s_l2 = best THEN l2 ... (first wins)
    expr = F.when(scores[LANG_ORDER[0]] == best, F.lit(LANG_ORDER[0]))
    for lang in LANG_ORDER[1:]:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return docs.select(
        "doc_id",
        "lang",
        *extra_cols,
        expr.alias("lang_pred"),
        best.cast("long").alias("best_hits"),
    )


def lang_mismatch_by_source(docs: DataFrame) -> DataFrame:
    """Crawl-metadata health readout: per source, how often the declared
    ``lang`` column disagrees with the detected language. Declared crawl
    language metadata is notoriously unreliable; pipelines use this
    per-shard rate to decide which sources need re-detection before the
    lang-conditioned quality rules run. Map-only detection + one
    groupBy(source) conditional agg (partials combine map-side); NULL
    declared langs count as mismatches (null-safe inequality)."""
    pred = langid_heuristic(docs, extra_cols=("source",))
    mismatch = (~F.col("lang").eqNullSafe(F.col("lang_pred"))).cast("long")
    return pred.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(mismatch).alias("n_mismatch"),
        F.round(
            F.sum(mismatch).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("mismatch_rate"),
    )


def lang_mismatch_by_source_sql() -> str:
    """DuckDB mirror of :func:`lang_mismatch_by_source`."""
    pred = langid_heuristic_sql(extra_cols=("source",))
    return f"""
WITH pred AS ({pred})
SELECT source, count(*) AS n_docs,
  CAST(sum(CASE WHEN lang IS DISTINCT FROM lang_pred THEN 1 ELSE 0 END) AS BIGINT)
    AS n_mismatch,
  round(CAST(sum(CASE WHEN lang IS DISTINCT FROM lang_pred THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS mismatch_rate
FROM pred GROUP BY source
"""


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Exact-content fingerprint (md5) + normalized fingerprint
    (lowercased, whitespace-collapsed) for near-exact dedup."""
    return docs.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fingerprint"),
        F.md5(F.encode(collapsed_lower(F.col("text")), "UTF-8")).alias(
            "norm_fingerprint"
        ),
    )


def scrub_documents(docs: DataFrame) -> DataFrame:
    cols = scrub_columns(F.col("text"))
    return docs.select(
        "doc_id",
        cols["scrubbed_text"].alias("scrubbed_text"),
        cols["scrub_email_count"].alias("scrub_email_count"),
        cols["scrub_ip_count"].alias("scrub_ip_count"),
        cols["scrub_phone_count"].alias("scrub_phone_count"),
        cols["scrub_count"].alias("scrub_count"),
    )


# ---------------------------------------------------------------- SQL mirrors
def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join("'" + s + "'" for s in items) + "]"


def langid_heuristic_sql(extra_cols: tuple[str, ...] = ()) -> str:
    lows = token_array_sql("lower(text)")
    extra = "".join(f", {c}" for c in extra_cols)
    score_exprs = {
        lang: f"len(list_filter(lows, x -> list_contains({_sql_list(sw)}, x)))"
        for lang, sw in config.STOPWORDS_BY_LANG.items()
    }
    sel = ",\n    ".join(f"{e} AS s_{lang}" for lang, e in score_exprs.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in LANG_ORDER
    ) + " END"
    return f"""
WITH t AS (SELECT doc_id, lang{extra}, {lows} AS lows FROM documents),
s AS (SELECT doc_id, lang{extra}, {sel} FROM t),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id, lang{extra}, {case} AS lang_pred, best AS best_hits FROM b
"""


def length_quality_ramp(docs: DataFrame) -> DataFrame:
    """Partial-credit text-length ramp — the reference's only non-binary
    client metric (react-app MQAService.ts:253-259: below 100 chars ->
    0.5 baseline prorated, 100..500 -> 0.5..1.0, above 500 -> 1.0).
    Pure least/greatest arithmetic, no branches."""
    n = F.col("n_chars").cast("double")
    below = 0.5 * (n / F.lit(100.0))
    ramp = 0.5 + 0.5 * ((n - 100) / F.lit(400.0))
    score = F.when(n < 100, below).otherwise(
        F.least(ramp, F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        F.col("n_chars"),
        F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6).alias(
            "length_score"
        ),
    )


def report_json(scored: DataFrame) -> DataFrame:
    """DQV-ish per-document JSON report (reference S8 analog,
    converters.py:28-137): a fixed-field JSON string built with
    format_string so the exact bytes are reproducible in any SQL engine
    (to_json key order / float formatting varies across engines)."""
    from metadata_quality_stack_spark import config

    dims = ", ".join(
        f'"{d}": %d' for d in config.DIMENSIONS
    )
    fmt = (
        '{"doc_id": %d, "totalScore": %d, "rating": "%s", "keep": %s, '
        '"dimensions": {' + dims + "}}"
    )
    return scored.select(
        "doc_id",
        F.format_string(
            fmt,
            F.col("doc_id"),
            F.col("total_score"),
            F.col("rating"),
            F.when(F.col("keep"), F.lit("true")).otherwise(F.lit("false")),
            *[F.col(d) for d in config.DIMENSIONS],
        ).alias("report"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition readout: the occupancy of each document's
    most frequent word 2-gram (token salad and template spam repeat a few
    bigrams; clean prose tops out low). One explode + two aggregations;
    bigrams shuffle as strings only for this standalone analytics query —
    the hot-path repetition guard is line_uniqueness in the rule engine.
    Docs with < 2 tokens report zero bigrams."""
    lows = F.transform(token_array(F.col("text")), lambda x: F.lower(x))
    bigrams = word_ngrams(lows, 2)
    ex = docs.select("doc_id", F.explode_outer(bigrams).alias("bg"))
    counts = (
        ex.filter(F.col("bg").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
            F.round(
                F.coalesce(
                    F.col("top_bigram_count").cast("double")
                    / F.nullif(F.col("n_bigrams").cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_fraction"),
        )
    )


# shared per-metric measurement template (Spark format_string / DuckDB
# printf both implement C-style %s/%d/%.Nf, and inputs are pre-rounded so
# the rendered bytes agree across engines)
DQV_METRIC_TEMPLATE = (
    '{"metric": "%s", "dimension": "%s", "weight": %d, '
    '"percentage": %.6f, "points": %.4f, '
    '"label_en": "%s", "label_es": "%s", "severity": "%s"}'
)


def report_dqv(docs: DataFrame, meta_cols: dict[str, str] | None = None) -> DataFrame:
    """Nested DQV-style JSON report (reference converters.py:70-137): the
    per-document quality report with the dimensions object AND a
    ``measurements`` array carrying every metric's percentage, points and
    weight — the full drop-reason debugging payload, one JSON string per
    doc. Map-only: scoring stages + one formatting projection."""
    from metadata_quality_stack_spark.operators.rules import apply_quality

    scored = apply_quality(
        docs, meta_cols=meta_cols or {}, profile="webtext_native", keep_pcts=True
    )
    rules = config.RULES_BY_PROFILE["webtext_native"]
    measurements = [
        F.format_string(
            DQV_METRIC_TEMPLATE,
            F.lit(r["id"]),
            F.lit(r["dimension"]),
            F.lit(int(r["weight"])).cast("int"),
            F.round(F.col(f"pct_{r['id']}"), 6),
            F.round(F.col(f"pct_{r['id']}") * F.lit(float(r["weight"])), 4),
            F.lit(config.labels_for(r["id"])[0]),
            F.lit(config.labels_for(r["id"])[1]),
            F.lit(config.severity_for(r["id"])),
        )
        for r in rules
    ]
    dims_fmt = ", ".join(f'"{d}": %d' for d in config.DIMENSIONS)
    head_fmt = (
        '{"doc_id": %d, "totalScore": %d, "rating": "%s", "keep": %s, '
        '"dimensions": {' + dims_fmt + '}, "measurements": ['
    )
    head = F.format_string(
        head_fmt,
        F.col("doc_id"),
        F.col("total_score"),
        F.col("rating"),
        F.when(F.col("keep"), F.lit("true")).otherwise(F.lit("false")),
        *[F.col(d) for d in config.DIMENSIONS],
    )
    return scored.select(
        "doc_id",
        F.concat(head, F.concat_ws(", ", *measurements), F.lit("]}")).alias(
            "report"
        ),
    )


# Turtle template shared by Spark format_string and DuckDB printf.
# Single deterministic line per doc; prefixes declared once by the caller
# when assembling a document (@prefix mqa: <https://example.org/mqa#>).
TURTLE_TEMPLATE = (
    '<https://doc.example/%d> a mqa:QualityReport ; '
    'mqa:totalScore %d ; mqa:rating "%s" ; mqa:keep %s ; '
    "mqa:findability %d ; mqa:accessibility %d ; mqa:interoperability %d ; "
    "mqa:reusability %d ; mqa:contextuality %d ."
)


def report_turtle(scored: DataFrame) -> DataFrame:
    """Turtle serialization of the per-document quality report — the
    reference's S9 sink (client-side `RDFService.ts` Turtle re-serialize;
    DQV shape from converters.py). One deterministic triple block per doc
    rendered with format_string, so the exact bytes are reproducible in
    any engine (rdflib-style pretty-printing is not)."""
    return scored.select(
        "doc_id",
        F.format_string(
            TURTLE_TEMPLATE,
            F.col("doc_id"),
            F.col("total_score"),
            F.col("rating"),
            F.when(F.col("keep"), F.lit("true")).otherwise(F.lit("false")),
            *[F.col(d) for d in config.DIMENSIONS],
        ).alias("turtle"),
    )


# GPT-2-style pretokenizer, restricted to the Java/RE2/DuckDB-common subset
# (no \p classes, no lookahead): contractions, letter runs, digit runs,
# punctuation runs, whitespace runs.
BPE_PRETOKEN_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+|[ \t\n\r]+"
BPE_NONWS_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting (training-data budget estimation): counts
    pretokenizer pieces and non-whitespace pieces per doc — one
    regexp_count pass each, native."""
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(BPE_PRETOKEN_RE)).alias("n_pieces"),
        F.regexp_count("text", F.lit(BPE_NONWS_RE)).alias("n_tokens"),
        F.round(
            F.coalesce(
                F.length("text").cast("double")
                / F.nullif(
                    F.regexp_count("text", F.lit(BPE_NONWS_RE)).cast("double"), F.lit(0.0)
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("chars_per_token"),
    )


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Rabin-Karp-style rolling polynomial fingerprint (h = 31h + c mod
    2^55) over the whitespace-normalized lowercased text — the task's
    'document fingerprinting (rolling hash)', complementing the md5
    fingerprints (doc_fingerprint). Same 55-bit char hash the SimHash
    path uses, so the DuckDB mirror is shared (dedup.poly_hash_sql)."""
    from metadata_quality_stack_spark.operators.dedup import _poly_hash

    return docs.select(
        "doc_id", _poly_hash(collapsed_lower(F.col("text"))).alias("rolling_hash")
    )


def term_stats(docs: DataFrame, limit: int = TERM_STATS_LIMIT) -> DataFrame:
    """Corpus vocabulary census: per-term frequency (tf), document
    frequency (df), and smoothed idf = ln((N+1)/(df+1)) — the readout a
    tokenizer-training / stopword-mining / tf-idf stage starts from.
    Top ``limit`` terms by tf (term-asc tiebreak).

    Scale shape: explode(lowercased tokens) -> ONE groupBy(term) with
    map-side partial aggregation (count + count(distinct doc_id) in the
    same exchange); hot stopword terms are exactly what partial agg
    absorbs. The corpus-size scalar N joins in as a broadcast 1-row agg
    — no second pass over the data is keyed by it. Top-k is
    TakeOrdered, never a full sort."""
    toks = token_array(F.lower(F.col("text")))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    per_term = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )
    return (
        per_term.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "tf",
            "df",
            F.round(
                F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6
            ).alias("idf"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(limit)
    )


def term_stats_sql() -> str:
    """DuckDB mirror of :func:`term_stats`."""
    return f"""
WITH tok AS (SELECT doc_id, unnest({token_array_sql("lower(text)")}) AS term FROM documents),
n AS (SELECT count(*) AS n_docs FROM documents),
per AS (SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM tok GROUP BY term)
SELECT term, tf, df, round(ln((n_docs + 1) / (df + 1)), 6) AS idf
FROM per, n
ORDER BY tf DESC, term ASC LIMIT {TERM_STATS_LIMIT}
"""


# crawl-text canonicalization (the C4/CCNet pre-filter cleanup stage)
_CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"  # keep \t \n (\r handled first)


def normalize_text(docs: DataFrame) -> DataFrame:
    """Canonical whitespace/control cleanup BEFORE scoring/dedup — the
    standard crawl-preprocessing stage: CRLF/CR -> LF, strip ASCII
    control characters (except tab/newline), collapse space/tab runs to
    one space, trim spaces around newlines, squeeze 3+ blank lines to
    one, trim the ends. Map-only chained regexp_replace (single-pass
    scans of the document, all codegen); running it before exact dedup
    makes byte-identical-modulo-whitespace recrawls collapse.

    Columns: doc_id, n_chars_raw, n_chars_clean, clean_text."""
    t = F.coalesce(F.col("text"), F.lit(""))
    u = F.regexp_replace(t, "\r\n", "\n")
    u = F.regexp_replace(u, "\r", "\n")
    u = F.regexp_replace(u, _CTRL_CLASS, "")
    u = F.regexp_replace(u, "[ \t]+", " ")
    u = F.regexp_replace(u, " *\n *", "\n")
    u = F.regexp_replace(u, "\n{3,}", "\n\n")
    u = F.btrim(u, F.lit(" \n"))
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_raw"),
        F.length(u).cast("long").alias("n_chars_clean"),
        u.alias("clean_text"),
    )


def normalize_text_sql() -> str:
    """DuckDB mirror (same step order; RE2 needs the 'g' flag where
    Spark replaces all occurrences by default)."""
    t = "coalesce(text, '')"
    u = f"regexp_replace({t}, '\\r\\n', chr(10), 'g')"
    u = f"regexp_replace({u}, '\\r', chr(10), 'g')"
    u = f"regexp_replace({u}, '{_CTRL_CLASS}', '', 'g')"
    u = f"regexp_replace({u}, '[ \\t]+', ' ', 'g')"
    u = f"regexp_replace({u}, ' *\\n *', chr(10), 'g')"
    u = f"regexp_replace({u}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    u = f"trim({u}, ' ' || chr(10))"
    return f"""
SELECT doc_id, length({t})::BIGINT AS n_chars_raw,
       length({u})::BIGINT AS n_chars_clean, {u} AS clean_text
FROM documents
"""


# C4 line-level cleaning (Raffel et al. arXiv:1910.10683 §2.2) — the
# famous per-line stage BETWEEN whitespace canonicalization and scoring:
# keep only "sentence-like" lines, then gate the page on what survived.
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_LINES_KEPT = 3
C4_TERMINAL_RE = '[.!?"]$'  # ASCII subset of C4's terminal-punct set
C4_LINE_BLOCK = "javascript"  # C4 drops any line mentioning it
C4_PAGE_BLOCK = ["{", "lorem ipsum"]  # page-level drops (code / filler)


def c4_line_filter(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """C4's line-level filter: a line survives iff it ends in terminal
    punctuation, has >= 5 whitespace words, and does not mention
    'javascript'; the page keep flag then requires >= 3 surviving lines
    and no page-level blockers ('{' = code, 'lorem ipsum' = filler).
    MAP-ONLY: one HOF filter over the per-doc line array — no explode,
    no Exchange, text never leaves its scan partition (the per-line
    lambdas bind only the lambda var, so the interpreted-HOF
    re-evaluation trap does not apply). Complements
    ``normalize_text`` (runs before) and ``dedup.drop_duplicated_lines``
    (corpus-level; this is per-document).

    Columns: doc_id, n_lines_raw, n_lines_kept, keep_page, clean_text.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(t, "\n", -1)

    def _clean(l):  # rtrim CR/space/tab, ltrim space/tab — dialect-shared
        return F.regexp_replace(
            F.regexp_replace(l, "[ \t\r]+$", ""), "^[ \t\r]+", ""
        )

    def _keep(l):
        words = F.size(F.filter(F.split(l, " ", -1), lambda w: w != ""))
        return (
            l.rlike(C4_TERMINAL_RE)
            & (words >= C4_MIN_WORDS_PER_LINE)
            & ~F.contains(F.lower(l), F.lit(C4_LINE_BLOCK))
        )

    kept = F.filter(F.transform(lines, _clean), _keep)
    low = F.lower(t)
    page_ok = F.size(kept) >= C4_MIN_LINES_KEPT
    for b in C4_PAGE_BLOCK:
        page_ok = page_ok & ~F.contains(low, F.lit(b))
    return docs.select(
        "doc_id",
        *keep_cols,
        F.size(lines).cast("long").alias("n_lines_raw"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        page_ok.alias("keep_page"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def c4_line_filter_sql() -> str:
    """DuckDB mirror — same clean/keep lambdas over string_split."""
    t = "coalesce(text, '')"
    clean = (
        "list_transform(string_split({t}, chr(10)), l -> "
        "regexp_replace(regexp_replace(l, '[ \\t\\r]+$', ''), '^[ \\t\\r]+', ''))"
    ).format(t=t)
    keep = (
        f"list_filter({clean}, l -> "
        f"regexp_matches(l, '[.!?\"]$') AND "
        f"len(list_filter(string_split(l, ' '), w -> w != '')) >= "
        f"{C4_MIN_WORDS_PER_LINE} AND "
        f"NOT contains(lower(l), '{C4_LINE_BLOCK}'))"
    )
    blocks = " AND ".join(
        f"NOT contains(lower(t), '{b}')" for b in C4_PAGE_BLOCK
    )
    return f"""
WITH k AS (SELECT doc_id, {t} AS t,
                  len(string_split({t}, chr(10)))::BIGINT AS n_lines_raw,
                  {keep} AS kept
           FROM documents)
SELECT doc_id, n_lines_raw, len(kept)::BIGINT AS n_lines_kept,
       (len(kept) >= {C4_MIN_LINES_KEPT} AND {blocks}) AS keep_page,
       coalesce(list_aggregate(kept, 'string_agg', chr(10)), '') AS clean_text
FROM k
"""


def lang_stopword_density(
    docs: DataFrame,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Language-AWARE stopword gate: score each document against the
    stopword set of its OWN declared language — the Gopher stop-word
    rule (arXiv:2112.11446 A1.1: ≥2 of a tiny stopword list) applied
    per language instead of English-only, which is what stops the
    English rule from mass-dropping correct French/German/Chinese pages
    in a multilingual crawl.

    Plan shape: the per-lang set arrives via ONE staged map-literal
    lookup (``_sw`` below) and the hit count is a single filter/size
    over the token array — staging the lookup outside the lambda keeps
    the map literal from being re-evaluated per element (the
    interpreted-HOF re-evaluation trap; see gopher.py). Map-only, no
    shuffle; integer ppm, no float division.

    Columns: doc_id, lang, n_words, sw_hits, sw_distinct, density_ppm,
    keep. Unknown lang -> null counts, keep=false (score it with the
    model scorer instead).
    """
    lows = F.transform(token_array(F.col("text")), lambda x: F.lower(x))
    sw_map = F.create_map(
        *[
            c
            for lang, sw in config.STOPWORDS_BY_LANG.items()
            for c in (F.lit(lang), F.array(*[F.lit(s) for s in sw]))
        ]
    )
    staged = docs.select(
        "doc_id",
        *keep_cols,
        "lang",
        lows.alias("_lows"),
        F.element_at(sw_map, F.col("lang")).alias("_sw"),
    )
    hits_arr = F.filter(
        F.col("_lows"), lambda x: F.array_contains(F.col("_sw"), x)
    )
    n_words = F.size(F.col("_lows")).cast("long")
    staged2 = staged.select(
        "doc_id",
        *keep_cols,
        "lang",
        n_words.alias("n_words"),
        F.when(
            F.col("_sw").isNotNull(), F.size(hits_arr).cast("long")
        ).alias("sw_hits"),
        F.when(
            F.col("_sw").isNotNull(),
            F.size(F.array_distinct(hits_arr)).cast("long"),
        ).alias("sw_distinct"),
    )
    density = F.when(
        F.col("n_words") > 0,
        F.expr("(sw_hits * 1000000) div n_words"),
    )
    return staged2.select(
        "*",
        density.alias("density_ppm"),
        (
            (F.col("sw_distinct") >= STOPWORD_MIN_DISTINCT)
            & (density >= STOPWORD_MIN_PPM)
        ).alias("keep"),
    )


def lang_stopword_density_sql() -> str:
    lows = token_array_sql("lower(text)")
    case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lang}' THEN {_sql_list(sw)}"
            for lang, sw in config.STOPWORDS_BY_LANG.items()
        )
        + " END"
    )
    return f"""
WITH t AS (SELECT doc_id, lang, {lows} AS lows, {case} AS sw FROM documents),
h AS (SELECT doc_id, lang, len(lows)::BIGINT AS n_words,
        CASE WHEN sw IS NOT NULL THEN
          len(list_filter(lows, x -> list_contains(sw, x)))::BIGINT END
          AS sw_hits,
        CASE WHEN sw IS NOT NULL THEN
          len(list_distinct(list_filter(lows, x -> list_contains(sw, x))))
          ::BIGINT END AS sw_distinct
      FROM t),
d AS (SELECT *, CASE WHEN n_words > 0
        THEN (sw_hits * 1000000) // n_words END AS density_ppm FROM h)
SELECT doc_id, lang, n_words, sw_hits, sw_distinct, density_ppm,
       (sw_distinct >= {STOPWORD_MIN_DISTINCT}
        AND density_ppm >= {STOPWORD_MIN_PPM}) AS keep
FROM d
"""


def bpe_fertility_by_lang(docs: DataFrame) -> DataFrame:
    """Tokenizer-fertility readout per language: chars per BPE-ish token
    — THE number a token-budget planner needs before mixing languages
    (CJK text runs ~2-4x more chars/token under a Latin-centric
    pretokenizer, so an equal-chars mix is far from an equal-tokens
    mix). One regexp_count pass per doc, one bounded-key agg; the ratio
    ships in integer ppm (sum_chars*1e6 div sum_tokens) so both engines
    emit identical bits.

    Columns: lang, n_docs, sum_chars, sum_tokens, chars_per_token_ppm."""
    tok = F.regexp_count("text", F.lit(BPE_NONWS_RE)).cast("long")
    per = (
        docs.select("lang", F.length("text").cast("long").alias("_c"), tok.alias("_t"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_c").alias("sum_chars"),
            F.sum("_t").alias("sum_tokens"),
        )
    )
    ratio = F.when(
        F.col("sum_tokens") > 0,
        F.expr("(sum_chars * 1000000) div sum_tokens"),
    )
    return per.select("*", ratio.alias("chars_per_token_ppm"))


def bpe_fertility_by_lang_sql() -> str:
    nonws = BPE_NONWS_RE.replace("'", "''")
    return f"""
WITH per AS (
  SELECT lang, count(*)::BIGINT AS n_docs,
         sum(length(text))::BIGINT AS sum_chars,
         sum(len(regexp_extract_all(text, '{nonws}')))::BIGINT AS sum_tokens
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, sum_chars, sum_tokens,
       CASE WHEN sum_tokens > 0
            THEN (sum_chars * 1000000) // sum_tokens END AS chars_per_token_ppm
FROM per
"""


# Encoding-damage (mojibake) detection — the crawl-health signal that
# catches double-encoded UTF-8 and failed decodes BEFORE they poison
# langid/perplexity stats. Patterns are heuristic but classic:
#   - U+FFFD: a decoder already replaced an undecodable byte;
#   - raw C1 controls U+0080-U+009F: windows-1252 bytes decoded as
#     latin-1 (no legitimate web text contains C1 codepoints);
#   - U+00C2/U+00C3 + Latin-1-supplement trail: a 2-byte UTF-8 sequence
#     decoded as latin-1 then re-encoded ("CafÃ©", "Â " for NBSP);
#   - U+00E2 + (U+0080 | U+20AC): the lead pair of a 3-byte UTF-8
#     punctuation char (curly quotes/dashes) under latin-1 OR cp1252
#     ("donâ€™t").
# All four use \x{..} hex classes, the escape Java regex and RE2 parse
# identically (probe-verified); both engines scan leftmost-first
# non-overlapping, so the union alternation counts match cross-engine.
MOJI_REPLACEMENT = "\\x{FFFD}"
MOJI_C1 = "[\\x{80}-\\x{9F}]"
MOJI_LATIN1_PAIR = "[\\x{C2}\\x{C3}][\\x{80}-\\x{BF}]"
MOJI_E2_PAIR = "\\x{E2}[\\x{80}\\x{20AC}]"
# order matters (leftmost-first): pairs before the bare-C1 fallback so a
# C2/C3/E2-led artifact consumes its trail char as ONE site.
MOJI_UNION = (
    f"{MOJI_REPLACEMENT}|{MOJI_LATIN1_PAIR}|{MOJI_E2_PAIR}|{MOJI_C1}"
)
MOJI_PPM_THRESHOLD = 2_000  # >=0.2% artifact sites => damaged page


def mojibake_stats(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document encoding-damage census: counts of the four artifact
    families above, a non-overlapping union count, artifact sites per
    million chars (integer div — order-free), and the damage flag
    (any U+FFFD, or ppm >= threshold). MAP-ONLY: five regexp_count
    passes in one codegen projection, no Exchange; at 100 TB this rides
    the same scan as the other per-doc signals.

    Columns: doc_id, n_chars, n_replacement, n_c1, n_latin1_pair,
    n_e2_pair, n_artifacts, mojibake_ppm, mojibake."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(t).cast("long")
    cnt = lambda pat: F.regexp_count(t, F.lit(pat)).cast("long")  # noqa: E731
    counted = docs.select(
        "doc_id",
        *keep_cols,
        n_chars.alias("n_chars"),
        cnt(MOJI_REPLACEMENT).alias("n_replacement"),
        cnt(MOJI_C1).alias("n_c1"),
        cnt(MOJI_LATIN1_PAIR).alias("n_latin1_pair"),
        cnt(MOJI_E2_PAIR).alias("n_e2_pair"),
        cnt(MOJI_UNION).alias("n_artifacts"),
    )
    # div on staged columns (no regex inside F.expr: Spark's SQL-literal
    # parser would eat the pattern's backslashes)
    ppm = F.expr("(n_artifacts * 1000000) div greatest(n_chars, 1)")
    return counted.select(
        "*",
        ppm.alias("mojibake_ppm"),
        (
            (F.col("n_replacement") > 0) | (ppm >= MOJI_PPM_THRESHOLD)
        ).alias("mojibake"),
    )


def mojibake_stats_sql() -> str:
    """DuckDB mirror (same patterns; RE2 parses \\x{..} identically;
    // is DuckDB's integer division, matching Spark's div)."""
    t = "coalesce(text, '')"
    c = lambda pat: f"len(regexp_extract_all({t}, '{pat}'))::BIGINT"  # noqa: E731
    ppm = f"(({c(MOJI_UNION)}) * 1000000) // greatest(length({t}), 1)"
    return f"""
SELECT doc_id, length({t})::BIGINT AS n_chars,
       {c(MOJI_REPLACEMENT)} AS n_replacement,
       {c(MOJI_C1)} AS n_c1,
       {c(MOJI_LATIN1_PAIR)} AS n_latin1_pair,
       {c(MOJI_E2_PAIR)} AS n_e2_pair,
       {c(MOJI_UNION)} AS n_artifacts,
       {ppm} AS mojibake_ppm,
       ({c(MOJI_REPLACEMENT)} > 0 OR {ppm} >= {MOJI_PPM_THRESHOLD})
         AS mojibake
FROM documents
"""


def lexical_diversity(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Type/token lexical-diversity census — the vocabulary-collapse
    spam signal the repetition suite approaches from the other side:
    keyword-stuffed or template pages reuse a tiny vocabulary (low
    type-token ratio, few hapax legomena), while natural prose keeps
    both high. Tokens are lowercased whitespace words.

    MAP-ONLY: the sorted token array is STAGED as a column, adjacency
    flags come from zip_with over shifted slices of it (HOF arguments
    bind once per row — the interpreted-HOF re-evaluation trap does not
    apply), and run-length-1 detection pads with the empty-string
    sentinel (tokens are never empty). No Exchange; rides the shared
    document scan at 100 TB.

    Columns: doc_id, n_tokens, n_types, ttr_ppm, hapax_ppm."""
    toks = F.transform(
        token_array(F.coalesce(F.col("text"), F.lit(""))),
        lambda x: F.lower(x),
    )
    staged = docs.select(
        "doc_id", *keep_cols, F.array_sort(toks).alias("srt")
    ).select(
        "doc_id",
        *keep_cols,
        F.size("srt").cast("long").alias("n"),
        F.concat(
            F.array(F.lit("")), F.col("srt"), F.array(F.lit(""))
        ).alias("ext"),
    )
    n = F.col("n")
    cur = F.slice(F.col("ext"), 2, F.greatest(n, F.lit(0)))
    prv = F.slice(F.col("ext"), 1, F.greatest(n, F.lit(0)))
    nxt = F.slice(F.col("ext"), 3, F.greatest(n, F.lit(0)))
    flagged = staged.select(
        "doc_id",
        *keep_cols,
        "n",
        F.zip_with(cur, prv, lambda a, b: a != b).alias("d_prev"),
        F.zip_with(cur, nxt, lambda a, b: a != b).alias("d_next"),
    ).select(
        "doc_id",
        *keep_cols,
        "n",
        F.size(F.filter("d_prev", lambda x: x)).cast("long").alias("n_types"),
        F.size(
            F.filter(
                F.zip_with("d_prev", "d_next", lambda a, b: a & b),
                lambda x: x,
            )
        )
        .cast("long")
        .alias("n_hapax"),
    )
    return flagged.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        n.alias("n_tokens"),
        "n_types",
        F.expr("(n_types * 1000000) div greatest(n, 1)").alias("ttr_ppm"),
        F.expr("(n_hapax * 1000000) div greatest(n, 1)").alias("hapax_ppm"),
    )


def lexical_diversity_sql() -> str:
    """DuckDB mirror — the oracle states the semantics as the natural
    unnest + per-token counts (no need to be map-only off-engine)."""
    lows = token_array_sql("lower(text)")
    return f"""
WITH toks AS (SELECT doc_id, unnest({lows}) AS tok FROM documents),
per AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
agg AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.n_types, 0)::BIGINT AS n_types,
       (coalesce(a.n_types, 0) * 1000000)
         // greatest(coalesce(a.n_tokens, 0), 1) AS ttr_ppm,
       (coalesce(a.n_hapax, 0) * 1000000)
         // greatest(coalesce(a.n_tokens, 0), 1) AS hapax_ppm
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# Unicode script census + homoglyph-mixing detection. Mixed-script
# WORDS (Latin letters interleaved with Cyrillic confusables — "pаypal"
# with U+0430) are a classic web-spam/phishing signal that survives
# every length/repetition rule; the per-script letter counts also give
# the script router a langid pass can trust (declared lang vs dominant
# script). Ranges are the major Unicode blocks, written as \x{..}
# classes (Java-regex/RE2 common subset, same family as mojibake_stats).
SCRIPT_RANGES = {
    "latin": "[A-Za-z\\x{C0}-\\x{FF}\\x{100}-\\x{17F}]",
    "cyrillic": "[\\x{400}-\\x{4FF}]",
    "greek": "[\\x{370}-\\x{3FF}]",
    "arabic": "[\\x{600}-\\x{6FF}]",
    "cjk": "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]",
}
SCRIPT_ORDER = list(SCRIPT_RANGES)  # first-wins tiebreak, like LANG_ORDER
_MIX_LATIN = "[A-Za-z]"
_MIX_CYR = "[\\x{400}-\\x{4FF}]"


def script_census(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document script census: letter counts for the five major
    scripts, the dominant script ('none' when no letters; ties break
    first-in-SCRIPT_ORDER), and the count of MIXED-SCRIPT words (a
    whitespace token containing both a Latin and a Cyrillic letter —
    the homoglyph-spam shape). MAP-ONLY: regexp_count per range plus
    one HOF filter whose per-word rlike patterns are literals (bound
    once; the interpreted-HOF re-evaluation trap does not apply).

    Columns: doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
    dominant_script, n_mixed_words, mixed_script."""
    t = F.coalesce(F.col("text"), F.lit(""))
    counts = {
        name: F.regexp_count(t, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_RANGES.items()
    }
    best = F.greatest(*counts.values())
    dom = F.when(best == 0, F.lit("none"))
    for name in SCRIPT_ORDER:
        dom = dom.when(counts[name] == best, F.lit(name))
    mixed = F.size(
        F.filter(
            token_array(t),
            lambda w: w.rlike(_MIX_LATIN) & w.rlike(_MIX_CYR),
        )
    ).cast("long")
    return docs.select(
        "doc_id",
        *keep_cols,
        *[counts[name].alias(f"n_{name}") for name in SCRIPT_ORDER],
        dom.alias("dominant_script"),
        mixed.alias("n_mixed_words"),
        (mixed > 0).alias("mixed_script"),
    )


def script_census_sql() -> str:
    """DuckDB mirror of :func:`script_census` (same ranges, same
    first-wins CASE tiebreak, same token split)."""
    t = "coalesce(text, '')"
    c = {
        name: f"len(regexp_extract_all({t}, '{pat}'))::BIGINT"
        for name, pat in SCRIPT_RANGES.items()
    }
    sel = ",\n  ".join(f"{e} AS n_{name}" for name, e in c.items())
    best = "greatest(" + ", ".join(f"n_{name}" for name in SCRIPT_ORDER) + ")"
    case = (
        "CASE WHEN " + best + " = 0 THEN 'none' "
        + " ".join(
            f"WHEN n_{name} = {best} THEN '{name}'" for name in SCRIPT_ORDER
        )
        + " END"
    )
    mixed = (
        f"len(list_filter({token_array_sql(t)}, w -> regexp_matches(w, '{_MIX_LATIN}') "
        f"AND regexp_matches(w, '{_MIX_CYR}')))::BIGINT"
    )
    return f"""
WITH c AS (SELECT doc_id, {mixed} AS n_mixed_words,
  {sel}
  FROM documents)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
       {case} AS dominant_script,
       n_mixed_words, (n_mixed_words > 0) AS mixed_script
FROM c
"""


def lix_readability(docs: DataFrame) -> DataFrame:
    """Integer LIX readability census (Björnsson 1968: words/sentences
    + 100·longwords/words, long = more than 6 chars) — the classic
    machine-translation-era readability board that needs no syllable
    dictionary, which is what makes it computable identically in any
    engine. Low LIX (short sentences, short words) flags listicle/spam
    registers; very high LIX flags OCR junk and run-on boilerplate —
    a complementary axis to Gopher repetition and lexical diversity.

    All-integer: both rationals are scaled to micros with integer
    division (``div``), so the readout is bit-identical cross-engine.
    Tokens are raw whitespace words (punctuation chars count toward
    word length, documented); sentences are maximal [.!?]+ runs.
    MAP-ONLY — rides the shared document scan.

    Columns: doc_id, n_words, n_sentences, n_long_words, lix_micro
    (LIX points × 10^6; 0 for empty docs)."""
    toks = token_array(F.coalesce(F.col("text"), F.lit("")))
    staged = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.size(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit("[.!?]+"), 0
            )
        )
        .cast("long")
        .alias("n_sentences"),
        F.size(F.filter(toks, lambda x: F.length(x) > 6))
        .cast("long")
        .alias("n_long_words"),
    )
    return staged.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_long_words",
        (
            F.expr("(n_words * 1000000) div greatest(n_sentences, 1)")
            + F.expr("(n_long_words * 100000000) div greatest(n_words, 1)")
        )
        .cast("long")
        .alias("lix_micro"),
    )


def lix_readability_sql() -> str:
    """DuckDB mirror of :func:`lix_readability` (same raw-token split,
    same [.!?]+ sentence runs, same micro-scaled integer division)."""
    toks = token_array_sql("coalesce(text, '')")
    return f"""
WITH staged AS (
  SELECT doc_id,
         len({toks})::BIGINT AS n_words,
         len(regexp_extract_all(coalesce(text, ''), '[.!?]+'))::BIGINT
           AS n_sentences,
         len(list_filter({toks}, x -> length(x) > 6))::BIGINT AS n_long_words
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_long_words,
       ((n_words * 1000000) // greatest(n_sentences, 1)
        + (n_long_words * 100000000) // greatest(n_words, 1))::BIGINT
         AS lix_micro
FROM staged
"""
