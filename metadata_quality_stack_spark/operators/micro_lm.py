"""Gate-exact integer-micro twins of the model scorers (SURVEY §2.9).

The production langid/perplexity scorers (functions/langid.py,
functions/perplexity.py) are numpy pandas-UDFs — fast, but not
SQL-expressible, which left §2.9 with only a rows-only CORRECTNESS row
(``full_pipeline``, err=no_oracle) plus a pandas-oracle F1 test. This
module closes that gap with the pattern the trained classifier proved
(operators/classifier.py): freeze each model's weights in integer
MICROS, hash features with md5 (computable identically in Spark and
DuckDB), keep every per-document aggregation in BIGINT (order-free,
exact on any cluster), and have the DuckDB oracle REPLAY the entire
model fit from the embedded seed corpus in chained CTEs — the gate then
hash-matches full training + scoring runs across engines.

Two models, same shape as their production twins, different hash family
(md5 buckets instead of numpy polynomial / crc32 — md5 is the one hash
both engines share):

* ``langid_model_scores`` — naive-Bayes linear model over hashed char
  TRIGRAMS of the '_'-joined lowered text (fastText-style, like
  functions/langid.py's byte 1..3-grams), per-language weight =
  round(ln((count+0.1)/(total+0.1*B)) * 1e6). Per-document scoring is
  one explode + one BROADCAST join against the (B x 5)-weight table +
  one partial-aggregated groupBy(doc_id): the shuffle carries one
  (doc_id, 5 longs) row per doc per partition, never the grams.
* ``perplexity_model_scores`` — interpolated unigram+bigram LM
  (functions/perplexity.py semantics: p = 0.70*p_bi + 0.25*p_uni +
  0.05*p_floor, first token backs off to unigram), per-token cost =
  round(-ln(p) * 1e6) summed per document as BIGINT. The only
  cross-engine float steps are one ln per exploded token and one exp
  per doc — the same libm exposure the classifier's sigmoid and DSIR's
  census already gate green under.

Scale shape at 100 TB: both scorers are scan -> staged token/gram
projection (codegen) -> explode -> broadcast hash join (weight tables
are 2-48 KB) -> partial-agg groupBy(doc_id). No wide shuffle, no text
movement, no Python. The production UDFs remain the throughput path
(one Arrow crossing, numpy-batched); these twins are the correctness
spine and the SQL-pushdown-friendly fallback.

References: reference checker-plugin slot src/api/validators.py:74-90;
fastText (Joulin et al., arXiv:1607.01759); KenLM-style interpolation
as in CCNet (Wenzek et al., arXiv:1911.00359). All public.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import (
    md5_int,
    md5_int_py,
    md5_int_sql,
)
from metadata_quality_stack_spark.functions.langid import LANGS, SEED_TEXT
from metadata_quality_stack_spark.functions.perplexity import (
    P_FLOOR,
    PPL_EMPTY,
    W_BI,
    W_FLOOR,
    W_UNI,
    _EDGE_PUNCT,
)
from metadata_quality_stack_spark.functions.text import (
    token_array,
    token_array_py,
    token_array_sql,
)
from metadata_quality_stack_spark.operators.dsir import _round_half_away
from metadata_quality_stack_spark.operators.similarity import double_array_lit

LANGID_B = 2048  # trigram buckets per language
LANGID_ALPHA = 0.1  # same smoothing as functions/langid.py
PPL_B = 4096  # unigram AND bigram bucket count
PPL_ALPHA = 0.01  # same smoothing as functions/perplexity.py

# '.,!?;:"'()[]' with the embedded quote doubled for a SQL literal
_PUNCT_SQL = _EDGE_PUNCT.replace("'", "''")


# ------------------------------------------------------------- seed corpus
def _seed_sql() -> str:
    """The embedded seed corpus as a VALUES relation — the oracle
    retrains both models from these literals."""
    rows = ", ".join(
        "('{}', '{}')".format(lang, txt.replace("'", "''"))
        for lang, txt in SEED_TEXT.items()
    )
    return f"seed AS (SELECT * FROM (VALUES {rows}) AS _s(lang, txt))"


# ============================================================ langid micro
def _py_langid_norm(text: str) -> str:
    return "_" + "_".join(token_array_py(text.lower())) + "_"


def langid_weights_micros() -> dict[str, list[int]]:
    """Frozen per-language trigram weights in integer micros, computed
    at call time from the seed corpus (deterministic)."""
    out: dict[str, list[int]] = {}
    for lang in LANGS:
        norm = _py_langid_norm(SEED_TEXT[lang])
        counts = [0] * LANGID_B
        for i in range(len(norm) - 2):
            counts[md5_int_py(norm[i : i + 3], 7) % LANGID_B] += 1
        tot = len(norm) - 2
        out[lang] = [
            _round_half_away(
                math.log((c + LANGID_ALPHA) / (tot + LANGID_ALPHA * LANGID_B))
                * 1_000_000
            )
            for c in counts
        ]
    return out


def _langid_norm_col(text: F.Column) -> F.Column:
    toks = token_array(F.lower(F.coalesce(text, F.lit(""))))
    return F.concat(F.lit("_"), F.array_join(toks, "_"), F.lit("_"))


def _model_frame(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """ONE map-only staging chain shared by both micro scorers —
    replaces the original explode + broadcast-join + groupBy(doc_id)
    shape with literal-array folds (the classifier's weight pattern),
    measured 3.4x faster at sf0.1 and shuffle-FREE: the per-gram md5
    stays (it IS the cross-engine contract), the row explosion and the
    doc_id re-aggregation go.

    Staging discipline: ``_n``/``_kt`` land as attributes before any
    per-element lambda (HOF lambdas re-evaluate non-bound subtrees per
    element), and ``_g``/``_p`` land as attributes before the folds —
    CollapseProject never inlines a non-cheap alias referenced more
    than once, so the gram arrays are built once per row even though
    five langid folds read ``_g``. A caller that selects only one
    scorer's outputs gets the other's stages column-pruned away.

    Columns: doc_id, *extra_cols, n_grams, n_tokens, s_<lang>...,
    cost_micros."""
    w = langid_weights_micros()
    pu, pb = perplexity_probs()
    carry = ["doc_id", *extra_cols]
    s0 = docs.select(
        *carry,
        _langid_norm_col(F.col("text")).alias("_n"),
        _kept_tokens_col(F.col("text")).alias("_kt"),
    )
    nlen = F.length(F.col("_n"))
    grams = F.when(
        nlen < 3, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), nlen - 2),
            lambda i: md5_int(F.col("_n").substr(i, F.lit(3)), 7) % LANGID_B,
        )
    )
    n = F.size(F.col("_kt"))
    uni = F.transform(F.col("_kt"), lambda t: md5_int(t, 7) % PPL_B)
    bi = F.when(n < 2, F.array().cast("array<bigint>")).otherwise(
        F.zip_with(
            F.slice(F.col("_kt"), 1, n - 1),
            F.slice(F.col("_kt"), 2, n - 1),
            lambda a, b: md5_int(F.concat(a, F.lit(" "), b), 7) % PPL_B,
        )
    )
    # position-aligned (unigram, bigram-or-SENTINEL) pairs; the first
    # token has no bigram context (-1 -> unigram backoff, like the UDF's
    # pb[starts] = pu[starts]). A -1 sentinel instead of NULL: a null
    # element threaded through concat/zip_with structs loses its null
    # flag in the interpreted fold and reads back as 0.0 (observed on
    # Spark 4.1 — pb and prob both corrupted on the first pair), while
    # the sentinel path never creates a null at all. zip_with ARGUMENTS
    # evaluate once per row.
    pairs = F.when(
        n == 0, F.array().cast("array<struct<u:bigint,b:bigint>>")
    ).otherwise(
        F.zip_with(
            uni,
            F.concat(F.array(F.lit(-1).cast("bigint")), bi),
            lambda u, b: F.struct(u.alias("u"), b.alias("b")),
        )
    )
    s1 = s0.select(
        *carry,
        F.greatest(nlen - 2, F.lit(0)).cast("long").alias("n_grams"),
        grams.alias("_g"),
        n.cast("long").alias("n_tokens"),
        pairs.alias("_p"),
    )
    def _lang_fold(weights: list[int]) -> F.Column:
        # closure factory, NOT a default-arg lambda: pyspark counts a
        # defaulted parameter as a lambda arg and would mis-arity the
        # merge function (see .claude/skills/verify gotchas)
        # one parsed literal: F.lit(list) costs a py4j call per element
        arr = F.expr(f"array({', '.join(str(int(v)) for v in weights)})")
        return F.aggregate(
            F.col("_g"),
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.element_at(arr, (b + F.lit(1)).cast("int")),
        )

    lang_sums = [_lang_fold(w[lang]).alias(f"s_{lang}") for lang in LANGS]
    pu_arr = double_array_lit(pu)
    pb_arr = double_array_lit(pb)

    def _cost(p: F.Column) -> F.Column:
        p_uni = F.element_at(pu_arr, (p["u"] + F.lit(1)).cast("int"))
        # conditional lookup keeps the sentinel from ever reaching
        # element_at (index 0 is an ANSI error); when() yields null ->
        # the same coalesce backoff the join formulation had
        p_bi = F.when(
            p["b"] >= 0,
            F.element_at(pb_arr, (p["b"] + F.lit(1)).cast("int")),
        )
        # interpolation written in the EXACT shape the oracle uses (IEEE
        # ops are deterministic given the same expression tree)
        prob = (
            F.lit(W_BI) * F.coalesce(p_bi, p_uni)
            + F.lit(W_UNI) * p_uni
            + F.lit(W_FLOOR) * (F.lit(1.0) / F.lit(1048576.0))
        )
        return F.round(-F.log(prob) * F.lit(1000000.0), 0).cast("long")

    cost = F.aggregate(
        F.col("_p"),
        F.lit(0).cast("long"),
        lambda acc, p: acc + _cost(p),
    )
    return s1.select(
        *carry,
        "n_grams",
        "n_tokens",
        *lang_sums,
        cost.alias("cost_micros"),
    )


def _lang_pred_col() -> F.Column:
    """Cascading argmax over the staged s_<lang> columns: first maximal
    language in LANGS order wins (the UDF's tie rule; zero-gram docs
    score 0 everywhere and fall through to LANGS[0])."""
    s = {lang: F.col(f"s_{lang}") for lang in LANGS}
    return (
        F.when(s["en"] >= F.greatest(s["es"], s["de"], s["fr"], s["zh"]), "en")
        .when(s["es"] >= F.greatest(s["de"], s["fr"], s["zh"]), "es")
        .when(s["de"] >= F.greatest(s["fr"], s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )


def langid_model_scores(docs: DataFrame) -> DataFrame:
    """Per-document language scores + argmax prediction under the frozen
    micro model. Ties break toward LANGS order (same rule as the UDF's
    argmax); zero-gram documents score 0 everywhere and predict
    LANGS[0], matching the UDF's empty-text default. Map-only
    (literal-array fold per language; perplexity stages pruned away).

    Columns: doc_id, n_grams, s_en, s_es, s_de, s_fr, s_zh, lang_pred."""
    return _model_frame(docs).select(
        "doc_id",
        "n_grams",
        *[f"s_{lang}" for lang in LANGS],
        _lang_pred_col().alias("lang_pred"),
    )


def _langid_weights_cte(table: str) -> str:
    """CTE chain retraining the micro langid model from the seed
    literals and producing the pivoted weight table ``wp(b, w_en..)`` —
    plus the per-document gram relation ``dg(doc_id, n_grams, b)``."""
    toks = token_array_sql("lower(coalesce({col}, ''))")
    norm = f"'_' || array_to_string({toks}, '_') || '_'"
    gb = f"({md5_int_sql('substr(n, CAST(i AS INT), 3)', 7)} % {LANGID_B})"
    wexpr = (
        f"CAST(round(ln((coalesce(c.c, 0) + {LANGID_ALPHA}) / "
        f"(t.tot + {LANGID_ALPHA} * {LANGID_B})) * 1000000) AS BIGINT)"
    )
    pivots = ", ".join(
        f"sum(CASE WHEN lang = '{lang}' THEN wm END)::BIGINT AS w_{lang}"
        for lang in LANGS
    )
    return f"""
{_seed_sql()},
snorm AS (SELECT lang, {norm.format(col='txt')} AS n FROM seed),
sgram AS (SELECT lang, unnest(list_transform(range(1, greatest(len(n) - 1, 1)),
                                             i -> {gb})) AS b
          FROM snorm),
scnt AS (SELECT lang, b, count(*) AS c FROM sgram GROUP BY lang, b),
stot AS (SELECT lang, count(*) AS tot FROM sgram GROUP BY lang),
lgs AS (SELECT unnest(['en', 'es', 'de', 'fr', 'zh']) AS lang),
bks AS (SELECT unnest(range(0, {LANGID_B})) AS b),
w AS (SELECT l.lang, k.b, {wexpr} AS wm
      FROM lgs l CROSS JOIN bks k
      JOIN stot t ON t.lang = l.lang
      LEFT JOIN scnt c ON c.lang = l.lang AND c.b = k.b),
wp AS (SELECT b, {pivots} FROM w GROUP BY b),
dnorm AS (SELECT doc_id, {norm.format(col='text')} AS n FROM {table}),
dg AS (SELECT doc_id, greatest(len(n) - 2, 0)::BIGINT AS n_grams,
              unnest(list_transform(range(1, greatest(len(n) - 1, 1)),
                                    i -> {gb})) AS b
       FROM dnorm)"""


def langid_model_scores_sql() -> str:
    sums = ", ".join(
        f"coalesce(sum(w.w_{lang}), 0)::BIGINT AS s_{lang}" for lang in LANGS
    )
    return f"""
WITH {_langid_weights_cte("documents")},
persum AS (SELECT g.doc_id, sum(1) AS _n, {sums}
           FROM dg g JOIN wp w USING (b) GROUP BY g.doc_id),
base AS (SELECT d.doc_id, greatest(len(n) - 2, 0)::BIGINT AS n_grams,
                coalesce(p.s_en, 0) AS s_en, coalesce(p.s_es, 0) AS s_es,
                coalesce(p.s_de, 0) AS s_de, coalesce(p.s_fr, 0) AS s_fr,
                coalesce(p.s_zh, 0) AS s_zh
         FROM dnorm d LEFT JOIN persum p USING (doc_id))
SELECT doc_id, n_grams, s_en, s_es, s_de, s_fr, s_zh,
       CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
            WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
            WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
            WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred
FROM base
"""


def langid_model_histogram(docs: DataFrame) -> DataFrame:
    """Corpus readout over the micro model: docs per predicted language
    — the per-partition lang-histogram metric computed by an oracled
    model instead of the UDF. Columns: lang_pred, n_docs."""
    return (
        langid_model_scores(docs)
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def langid_model_histogram_sql() -> str:
    return f"""
WITH scored AS ({langid_model_scores_sql()})
SELECT lang_pred, count(*)::BIGINT AS n_docs FROM scored GROUP BY lang_pred
"""


# ======================================================== perplexity micro
def _py_kept_tokens(text: str) -> list[str]:
    toks = (t.strip(_EDGE_PUNCT) for t in token_array_py(text.lower()))
    return [t for t in toks if t]


def perplexity_probs() -> tuple[list[float], list[float]]:
    """Frozen (p_uni, p_bi) probability tables over md5 buckets, built
    from the full seed corpus exactly like PerplexityModel (all
    languages; bigrams within each seed text). The divisions here are
    bit-identical to the oracle's CTE replay: same integer counts, same
    literal smoothing constants, same expression shape."""
    ucnt = [0] * PPL_B
    bcnt = [0] * PPL_B
    n_uni = 0
    n_bi = 0
    for text in SEED_TEXT.values():
        kt = _py_kept_tokens(text)
        for t in kt:
            ucnt[md5_int_py(t, 7) % PPL_B] += 1
        for a, b in zip(kt, kt[1:]):
            bcnt[md5_int_py(a + " " + b, 7) % PPL_B] += 1
        n_uni += len(kt)
        n_bi += max(len(kt) - 1, 0)
    pu = [(c + PPL_ALPHA) / (n_uni + PPL_ALPHA * PPL_B) for c in ucnt]
    pb = [(c + PPL_ALPHA) / (n_bi + PPL_ALPHA * PPL_B) for c in bcnt]
    return pu, pb


def _kept_tokens_col(text: F.Column) -> F.Column:
    toks = token_array(F.lower(F.coalesce(text, F.lit(""))))
    stripped = F.transform(toks, lambda x: F.btrim(x, F.lit(_EDGE_PUNCT)))
    return F.filter(stripped, lambda x: x != "")


def _ppl_col() -> F.Column:
    """Conventional perplexity readout over the staged (n_tokens,
    cost_micros) columns: exp(cost / tokens), UDF empty-doc default."""
    return F.when(F.col("n_tokens") == 0, F.lit(PPL_EMPTY)).otherwise(
        F.round(
            F.exp(
                F.col("cost_micros").cast("double")
                / (F.col("n_tokens").cast("double") * F.lit(1000000.0))
            ),
            4,
        )
    )


def perplexity_model_scores(docs: DataFrame) -> DataFrame:
    """Per-document interpolated-LM cost under the frozen micro model:
    integer micro cost sum (the exact, order-free gate quantity) plus
    the conventional perplexity readout exp(cost / tokens). Map-only
    (literal prob-table fold; langid stages pruned away).

    Columns: doc_id, n_tokens, cost_micros, ppl."""
    return _model_frame(docs).select(
        "doc_id", "n_tokens", "cost_micros", _ppl_col().alias("ppl")
    )


# ===================================================== micro full pipeline
# The micro twin of config.PERPLEXITY_MAX: the md5/4096-bucket model has
# its own ppl scale (sf0.01 synthetic corpus: median ~15.3k, p95 ~22.6k,
# token salad ~2e5) — 25k keeps seed-vocab prose and drops gibberish.
MICRO_PERPLEXITY_MAX = 25_000.0


def micro_model_columns(
    docs: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *extra_cols, lang_pred, lang_conf, ppl) under the micro
    models — the drop-in replacement for the fused UDF's struct, now ONE
    map-only projection over the shared staged frame (the original
    built two groupBy(doc_id) scorer frames and joined them; with both
    scorers as literal-array folds there is nothing to join). lang_conf
    is the softmax probability of the argmax language over per-gram
    mean log-scores, exactly the UDF's construction
    (functions/langid.py score_batch), computed with the same
    expression shape the oracle uses; zero-gram docs get the UDF's
    defaults (LANGS[0], conf 0.0). ``extra_cols`` pass through so the
    full pipeline can keep text/meta on the same scan."""
    z = {
        lang: F.col(f"s_{lang}").cast("double")
        / (F.col("n_grams").cast("double") * F.lit(1000000.0))
        for lang in LANGS
    }
    zm = F.greatest(*[z[lang] for lang in LANGS])
    s = None
    for lang in LANGS:  # left-associated sum, same order as the SQL
        e = F.exp(z[lang] - zm)
        s = e if s is None else s + e
    conf = F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) / s, 6)
    )
    return _model_frame(docs, extra_cols).select(
        "doc_id",
        *extra_cols,
        _lang_pred_col().alias("lang_pred"),
        conf.alias("lang_conf"),
        _ppl_col().alias("ppl"),
    )


def micro_model_columns_sql() -> str:
    zs = ", ".join(
        f"s_{lang}::DOUBLE / (n_grams::DOUBLE * 1000000.0) AS z_{lang}"
        for lang in LANGS
    )
    zm = "greatest(" + ", ".join(f"z_{lang}" for lang in LANGS) + ")"
    ssum = " + ".join(f"exp(z_{lang} - zm)" for lang in LANGS)
    return f"""
SELECT l.doc_id, l.lang_pred,
       CASE WHEN l.n_grams = 0 THEN 0.0
            ELSE round(1.0 / ({ssum}), 6) END AS lang_conf,
       p.ppl
FROM (SELECT *, {zm} AS zm
      FROM (SELECT *, {zs} FROM ({langid_model_scores_sql()}))) l
JOIN ({perplexity_model_scores_sql()}) p USING (doc_id)
"""


def full_pipeline_micro(docs: DataFrame) -> DataFrame:
    """The COMPLETE keep/drop pipeline — model rules included — with the
    micro scorers in the checker-plugin slot instead of the pandas UDFs:
    langid match/confidence + perplexity gate + every native heuristic
    rule, dimension-weighted rollup, rating, keep, drop_reasons. Unlike
    ``plans.pipeline.quality_pipeline`` (rows-only at the gate), every
    step here is SQL-expressible, so the DuckDB oracle replays the WHOLE
    pipeline — model training from seed literals through the final
    keep bit — and hash-matches it. The UDF pipeline remains the
    throughput path; this is the end-to-end correctness spine.

    Columns: doc_id, lang_pred, lang_conf, ppl, <5 dimensions>,
    total_score, rating, keep, drop_reasons (comma-joined)."""
    from metadata_quality_stack_spark import config
    from metadata_quality_stack_spark.operators.rules import (
        _as_pct,
        final_scores,
        scoring_stages,
    )

    # absent metadata columns make their presence-rules vacuously pass,
    # same contract as rules.native_rule_percentages
    meta_cols = {
        k: (k if k in docs.columns else None)
        for k in ("lang", "source", "n_chars")
    }
    # Whole pipeline on ONE scan, ZERO Exchanges (plan-asserted): the
    # micro scorers are map-only literal-array folds now, so the model
    # columns ride the same projection chain as the native heuristic
    # pcts — the doc_id model join (and the narrow-column discipline it
    # needed) is gone entirely.
    rules = config.RULES_BY_PROFILE["webtext"]
    native_ids = {r["id"] for r in rules if r.get("kind") != "model"}
    enriched = micro_model_columns(
        docs,
        extra_cols=tuple(
            c for c in ("text", *[v for v in meta_cols.values() if v])
        ),
    )
    natived = scoring_stages(
        enriched, "text", meta_cols, "webtext", rule_ids=native_ids
    )
    keep = ["doc_id", "lang_pred", "lang_conf", "ppl"]
    if meta_cols["lang"]:
        keep.append(meta_cols["lang"])
    keep += [f"pct_{r['id']}" for r in rules if r["id"] in native_ids]
    joined = natived.select(*keep)

    lang_col = F.col(meta_cols["lang"]) if meta_cols["lang"] else None
    model_pcts = {
        "langid_match": (
            F.lit(0.0)
            if lang_col is None
            else _as_pct(lang_col.isNotNull() & (F.col("lang_pred") == lang_col))
        ),
        "langid_confidence": F.least(
            F.greatest(F.col("lang_conf"), F.lit(0.0)), F.lit(1.0)
        ),
        "perplexity_ok": _as_pct(F.col("ppl") <= F.lit(MICRO_PERPLEXITY_MAX)),
    }
    with_pcts = joined.select(
        "*",
        *[
            model_pcts[r["id"]].alias(f"pct_{r['id']}")
            for r in rules
            if r["id"] not in native_ids
        ],
    )
    scored = final_scores(
        with_pcts, ["doc_id", "lang_pred", "lang_conf", "ppl"], "webtext"
    )
    keep_cols = [c for c in scored.columns if c != "drop_reasons"]
    return scored.select(
        *keep_cols, F.array_join("drop_reasons", ",").alias("drop_reasons")
    )


def full_pipeline_micro_sql() -> str:
    from metadata_quality_stack_spark import config
    from metadata_quality_stack_spark.oracle import sqlgen

    t = config.thresholds_for("webtext")
    rules = config.RULES_BY_PROFILE["webtext"]
    profile_ids = {r["id"] for r in rules}
    hard = [rid for rid in config.HARD_RULES if rid in profile_ids]
    hard_cond = " AND ".join(f"pct_{rid} >= 0.5" for rid in hard) or "TRUE"
    total = " + ".join(config.DIMENSIONS)
    all_pct_cols = ", ".join(f"pct_{r['id']}" for r in rules)
    model_pcts = (
        "CASE WHEN lang IS NOT NULL AND lang_pred = lang THEN 1.0 ELSE 0.0 "
        "END AS pct_langid_match,\n    "
        "least(greatest(lang_conf, 0.0), 1.0) AS pct_langid_confidence,\n    "
        f"CASE WHEN ppl <= {MICRO_PERPLEXITY_MAX!r} THEN 1.0 ELSE 0.0 END "
        "AS pct_perplexity_ok"
    )
    drop_reasons = "concat_ws(',', " + ", ".join(
        f"CASE WHEN pct_{r['id']} < 0.5 THEN '{r['id']}' END" for r in rules
    ) + ")"
    native_meta = {"lang": "lang", "source": "source", "n_chars": "n_chars"}
    return f"""
WITH src AS (
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
         m.lang_pred, m.lang_conf, m.ppl
  FROM documents d JOIN ({micro_model_columns_sql()}) m USING (doc_id)
), tok AS (
  SELECT doc_id, lang, source, n_chars, lang_pred, lang_conf, ppl, text,
    {token_array_sql("text")} AS toks,
    list_distinct({token_array_sql("lower(text)")}) AS lows
  FROM src
), feat AS (
  SELECT doc_id, lang, source, n_chars, lang_pred, lang_conf, ppl,
    {sqlgen.feature_select()}
  FROM tok
), pct AS (
  SELECT doc_id, lang_pred, lang_conf, ppl,
    {sqlgen.native_pct_select(native_meta)},
    {model_pcts}
  FROM feat
), dims AS (
  SELECT doc_id, lang_pred, lang_conf, ppl, {all_pct_cols},
    {sqlgen.score_select("webtext")}
  FROM pct
)
SELECT doc_id, lang_pred, lang_conf, ppl,
  findability, accessibility, interoperability, reusability, contextuality,
  CAST({total} AS INTEGER) AS total_score,
  CASE WHEN {total} >= {t['excellent']} THEN 'Excellent'
       WHEN {total} >= {t['good']} THEN 'Good'
       WHEN {total} >= {t['sufficient']} THEN 'Sufficient'
       ELSE 'Bad' END AS rating,
  ({total} >= {t['sufficient']} AND {hard_cond}) AS keep,
  {drop_reasons} AS drop_reasons
FROM dims
"""


def _ppl_probs_cte() -> str:
    """CTE chain retraining (p_uni, p_bi) from the seed literals."""
    toks = (
        f"list_filter(list_transform({token_array_sql('lower({col})')}, "
        f"x -> trim(x, '{_PUNCT_SQL}')), x -> x <> '')"
    )
    ub = f"({md5_int_sql('t', 7)} % {PPL_B})"
    bigram = "kt[i] || ' ' || kt[i+1]"
    bb = f"({md5_int_sql(bigram, 7)} % {PPL_B})"
    return f"""
{_seed_sql()},
skt AS (SELECT lang, {toks.format(col='txt')} AS kt FROM seed),
suni AS (SELECT {ub} AS b FROM (SELECT unnest(kt) AS t FROM skt)),
sbi AS (SELECT unnest(list_transform(range(1, len(kt)), i -> {bb})) AS b
        FROM skt),
ucnt AS (SELECT b, count(*) AS c FROM suni GROUP BY b),
bcnt AS (SELECT b, count(*) AS c FROM sbi GROUP BY b),
utot AS (SELECT count(*) AS n FROM suni),
btot AS (SELECT count(*) AS n FROM sbi),
bks AS (SELECT unnest(range(0, {PPL_B})) AS b),
pu AS (SELECT k.b, (coalesce(c.c, 0) + {PPL_ALPHA}) /
                   (t.n + {PPL_ALPHA} * {PPL_B}) AS p
       FROM bks k LEFT JOIN ucnt c USING (b), utot t),
pb AS (SELECT k.b, (coalesce(c.c, 0) + {PPL_ALPHA}) /
                   (t.n + {PPL_ALPHA} * {PPL_B}) AS p
       FROM bks k LEFT JOIN bcnt c USING (b), btot t)"""


def perplexity_model_scores_sql() -> str:
    raw = token_array_sql("lower(coalesce(text, ''))")
    toks = (
        f"list_filter(list_transform({raw}, "
        f"x -> trim(x, '{_PUNCT_SQL}')), x -> x <> '')"
    )
    ub = f"({md5_int_sql('kt[CAST(i AS INT)]', 7)} % {PPL_B})"
    bigram = "kt[CAST(i AS INT) - 1] || ' ' || kt[CAST(i AS INT)]"
    bb = f"({md5_int_sql(bigram, 7)} % {PPL_B})"
    interp = (
        f"{W_BI!r} * coalesce(pb.p, pu.p) + {W_UNI!r} * pu.p + "
        f"{W_FLOOR!r} * (1.0 / 1048576.0)"
    )
    return f"""
WITH {_ppl_probs_cte()},
dkt AS (SELECT doc_id, {toks} AS kt FROM documents),
dp AS (SELECT doc_id, len(kt) AS n_tokens, kt,
              unnest(range(1, len(kt) + 1)) AS i
       FROM dkt),
db AS (SELECT doc_id, n_tokens, {ub} AS u,
              CASE WHEN i = 1 THEN CAST(NULL AS BIGINT) ELSE {bb} END AS b
       FROM dp),
dc AS (SELECT d.doc_id, d.n_tokens,
              CAST(round(-ln({interp}) * 1000000.0) AS BIGINT) AS c
       FROM db d JOIN pu ON pu.b = d.u LEFT JOIN pb ON pb.b = d.b),
agg AS (SELECT doc_id, n_tokens, sum(c)::BIGINT AS cost_micros
        FROM dc GROUP BY doc_id, n_tokens)
SELECT k.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.cost_micros, 0)::BIGINT AS cost_micros,
       CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN {PPL_EMPTY!r}
            ELSE round(exp(a.cost_micros::DOUBLE /
                           (a.n_tokens::DOUBLE * 1000000.0)), 4)
       END AS ppl
FROM dkt k LEFT JOIN agg a USING (doc_id)
"""


def ccnet_ppl_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail split (arXiv:1911.00359 §3.3): per
    PREDICTED language, rank documents by LM perplexity and cut into
    equal thirds — head = the most-fluent third (kept for high-quality
    corpora), tail = the least-fluent (dropped or down-sampled). Fully
    deterministic across engines: the micro ppl is integer-micro exact
    and ties break on doc_id.

    Scale note: ntile here is a per-language global sort (one exchange
    keyed by few, skew-prone language keys). At 100 TB the same split
    computes tercile CUTOFFS from the deterministic sampler
    (sampling.score_quantiles_sampled pattern) and assigns buckets
    map-only; the ntile form is the small-scale / oracle-exact twin.

    Columns: doc_id, lang_pred, ppl, ppl_bucket."""
    from pyspark.sql.window import Window

    base = _model_frame(docs).select(
        "doc_id", _lang_pred_col().alias("lang_pred"), _ppl_col().alias("ppl")
    )
    nt = F.ntile(3).over(
        Window.partitionBy("lang_pred").orderBy("ppl", "doc_id")
    )
    return base.select(
        "doc_id",
        "lang_pred",
        "ppl",
        F.when(nt == 1, "head")
        .when(nt == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def ccnet_ppl_buckets_sql() -> str:
    """DuckDB mirror of :func:`ccnet_ppl_buckets` (same ntile spec and
    (ppl, doc_id) total order)."""
    return f"""
WITH m AS ({micro_model_columns_sql()})
SELECT doc_id, lang_pred, ppl,
  CASE ntile(3) OVER (PARTITION BY lang_pred ORDER BY ppl, doc_id)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM m
"""
