"""Distributed n-gram language-model TRAINING + perplexity scoring —
the trainer that produces what ``functions/perplexity.py`` consumes as
frozen weights (KenLM-style hashed bigram LM; Heafield 2011 is the
public construction, arXiv:1911.00359 the CCNet usage).

Pipeline (one declarative plan; the corpus is scanned twice — once for
the count aggregation, once for scoring — the same 2-pass shape as
DSIR; at production scale the exploded bigram table would be persisted
between the passes, the ``dedup_index`` pattern):

    tokens -> per-token 60-bit md5 hash -> bucket (mod B)
    -> adjacent-pair encode pc = bp*B + bc  (zip_with over slices)
    -> bigram counts  c(bp,bc)   [<= B^2 = 65,536 keys]
    -> context counts c(bp) = sum_bc c(bp,bc)   [<= B keys]
    -> add-one smoothing:  P(bc|bp) = (c+1) / (c(bp)+B)
    -> surprisal_fp = log2fp(c(bp)+B) - log2fp(c+1)   [fixed-point]
    -> per-doc score: broadcast-join the model, integer-sum surprisal

Scale shape: both count aggregates partial-combine map-side and their
exchanges are bounded by the BUCKET space (65k + 256 rows), never the
corpus — the IVF-centroid / DSIR-census pattern. The trained model and
the context backoff table ride the scoring join as broadcasts. Text
never shuffles; the per-token md5 is the same accepted price as the
micro scorers (the cross-engine hash of ``functions/hashing.py``).

Cross-engine exactness without libm: ``log2`` is computed in FIXED
POINT by pure int64 arithmetic — integer part from binary-string
length (the HLL rank trick, probe-verified identical in Spark and
DuckDB), fractional bits by the classical mantissa-squaring algorithm
(F iterations: square the [2^S, 2^31) mantissa, renormalize, emit one
bit). No float, no ln(), no rounding discipline — the DuckDB oracle
replays training AND scoring bit-for-bit, including the log.

Reference parity: the reference has no trainer (frozen service-side
models); this is the beyond-reference training-data family, sibling of
operators/classifier.py (LR trainer) and operators/bpe.py (tokenizer
trainer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_sql
from metadata_quality_stack_spark.functions.text import token_array, token_array_sql
from metadata_quality_stack_spark.sources.store import scratch_dir

LM_BUCKETS = 256  # B: token-hash space; pairs encode as bp*B+bc < 2^16
LOG2_F_BITS = 10  # fractional bits of the fixed-point log2 (~0.001)
_S = 30  # mantissa scale: m in [2^30, 2^31) keeps m*m inside int64
# log2fp(B) with B a power of two is exact: integer part 8, zero frac
_UNSEEN_CTX_FP = (LM_BUCKETS.bit_length() - 1) << LOG2_F_BITS


# ----------------------------------------------------------------- log2fp
def _log2fp_spark(df: DataFrame, xcol: str, out: str) -> DataFrame:
    """Append ``out`` = log2(xcol) in Q{LOG2_F_BITS} fixed point.
    Pure int64 staged columns; safe for 1 <= x < 2^62. Runs on model-
    sized tables (<= B^2 rows), never the corpus."""
    p = f"_{out}"
    df = df.withColumn(
        f"{p}_i",
        (F.length(F.conv(F.col(xcol).cast("string"), 10, 2)) - 1).cast("long"),
    )
    mant = "CASE " + " ".join(
        f"WHEN {p}_i = {k} THEN {xcol} * {1 << (_S - k)}L"
        if k <= _S
        else f"WHEN {p}_i = {k} THEN {xcol} div {1 << (k - _S)}L"
        for k in range(62)
    ) + " END"
    df = df.withColumn(f"{p}_m0", F.expr(mant).cast("long"))
    for t in range(LOG2_F_BITS):
        df = df.withColumn(
            f"{p}_t{t}", F.expr(f"({p}_m{t} * {p}_m{t}) div {1 << _S}")
        )
        df = df.withColumn(
            f"{p}_b{t}",
            F.expr(f"CASE WHEN {p}_t{t} >= {1 << (_S + 1)} THEN 1 ELSE 0 END"),
        )
        df = df.withColumn(
            f"{p}_m{t + 1}",
            F.expr(
                f"CASE WHEN {p}_b{t} = 1 THEN {p}_t{t} div 2 ELSE {p}_t{t} END"
            ),
        )
    acc = " + ".join(
        f"{p}_b{t} * {1 << (LOG2_F_BITS - 1 - t)}" for t in range(LOG2_F_BITS)
    )
    df = df.withColumn(
        out, F.expr(f"{p}_i * {1 << LOG2_F_BITS} + ({acc})").cast("long")
    )
    return df.drop(
        f"{p}_i",
        *[f"{p}_m{t}" for t in range(LOG2_F_BITS + 1)],
        *[f"{p}_t{t}" for t in range(LOG2_F_BITS)],
        *[f"{p}_b{t}" for t in range(LOG2_F_BITS)],
    )


def _fp_round6_expr(fp: str, n: str, intdiv: str) -> str:
    """round(fp / n / 2^LOG2_F_BITS, 6) with the HALF-UP midpoint
    resolved ENTIRELY in int64, as one SQL expression valid in both
    engines (`intdiv` = 'div' for Spark, '//' for DuckDB).

    Why: Spark's round() on a double goes through BigDecimal's decimal
    string (true half-up) while DuckDB rounds the raw binary double,
    and the two disagree whenever the exact rational lands on a
    7-digit decimal midpoint — which this fixed-point family hits for
    real, because the denominator n*2^10 often divides a power of ten
    (observed: sf0.001 doc 95, 20552/5/1024 = 4.0140625 → 4.014063 vs
    4.014062). Here: q = floor(fp/d) via an explicit nonnegative mod
    (identical C-style % in both engines, floor==truncate on the
    now-exact division), frac_micro = floor((2e6*r + d) / 2d) — the
    exact half-up of the remainder — and the final micro/1e6 is one
    IEEE double division of a ≤2^25 integer: bit-identical
    cross-engine. Headroom: 2e6*r < 2e9*n keeps int64 to n ≈ 4×10^9
    tokens per key (per-doc and per-source counts sit far below).
    NULL when n = 0, matching the old round(x / nullif(n,0)) readout."""
    d = f"(CAST({n} AS BIGINT) * {1 << LOG2_F_BITS})"
    pm = f"((({fp}) % {d}) + {d}) % {d}"
    q = f"((({fp}) - ({pm})) {intdiv} {d})"
    frac = f"((2000000 * ({pm}) + {d}) {intdiv} (2 * {d}))"
    return (
        f"CASE WHEN coalesce({n}, 0) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE CAST({q} * 1000000 + {frac} AS BIGINT) / 1000000.0 END"
    )


def _log2fp_sql_ctes(src: str, xcol: str, out: str, cols: str) -> str:
    """Chained-CTE DuckDB twin of :func:`_log2fp_spark`: consumes CTE
    ``src`` (which must expose ``xcol`` and ``cols``), emits CTE
    ``{out}_done`` with ``cols`` + ``out``. Same arithmetic, dialect
    differences only (bin() for bitlen, // for integer div)."""
    p = out
    mant = "CASE " + " ".join(
        f"WHEN i_ = {k} THEN {xcol} * {1 << (_S - k)}"
        if k <= _S
        else f"WHEN i_ = {k} THEN {xcol} // {1 << (k - _S)}"
        for k in range(62)
    ) + " END"
    steps = [
        f"{p}_s0 AS (SELECT {cols}, {xcol},"
        f" (length(bin({xcol})) - 1)::BIGINT AS i_,"
        f" 0::BIGINT AS acc_ FROM {src})",
        f"{p}_s1 AS (SELECT {cols}, {xcol}, i_, acc_, ({mant})::BIGINT AS m_"
        f" FROM {p}_s0)",
    ]
    prev = f"{p}_s1"
    for t in range(LOG2_F_BITS):
        nxt = f"{p}_s{t + 2}"
        steps.append(
            f"{nxt} AS (SELECT {cols}, {xcol}, i_,"
            f" acc_ * 2 + CASE WHEN (m_ * m_) // {1 << _S} >= {1 << (_S + 1)}"
            f" THEN 1 ELSE 0 END AS acc_,"
            f" CASE WHEN (m_ * m_) // {1 << _S} >= {1 << (_S + 1)}"
            f" THEN ((m_ * m_) // {1 << _S}) // 2"
            f" ELSE (m_ * m_) // {1 << _S} END AS m_"
            f" FROM {prev})"
        )
        prev = nxt
    steps.append(
        f"{out}_done AS (SELECT {cols},"
        f" (i_ * {1 << LOG2_F_BITS} + acc_)::BIGINT AS {out} FROM {prev})"
    )
    return ",\n".join(steps)


# ---------------------------------------------------------------- training
def _doc_pairs(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, *carry, pc) for every adjacent token pair; pc = bp*B+bc."""
    toks = token_array(F.col("text"))
    staged = docs.select("doc_id", *carry, toks.alias("_tk"))
    bkt = F.transform(
        F.col("_tk"),
        lambda t: F.pmod(md5_int(t, 15), F.lit(LM_BUCKETS)),
    )
    sz = F.size("_bk")
    pairs = F.when(
        sz >= 2,
        F.zip_with(
            F.slice(F.col("_bk"), 1, sz - 1),
            F.slice(F.col("_bk"), 2, sz - 1),
            lambda a, b: a * LM_BUCKETS + b,
        ),
    ).otherwise(F.array().cast("array<long>"))
    return (
        staged.select("doc_id", *carry, bkt.alias("_bk"))
        .select("doc_id", *carry, F.explode(pairs).alias("pc"))
    )


def ngram_lm_model(docs: DataFrame) -> DataFrame:
    """The trained model: one row per OBSERVED bigram bucket pair.

    Columns: pc, bp, c_big, c_ctx, surprisal_fp (Q10 fixed-point bits
    of -log2 P_add1(bc|bp))."""
    pairs = _doc_pairs(docs)
    big = pairs.groupBy("pc").agg(F.count("*").alias("c_big"))
    big = big.withColumn("bp", F.expr(f"pc div {LM_BUCKETS}"))
    ctx = big.groupBy("bp").agg(F.sum("c_big").alias("c_ctx"))
    m = (
        big.join(ctx, "bp")
        .withColumn("num", F.col("c_big") + 1)
        .withColumn("den", F.col("c_ctx") + LM_BUCKETS)
    )
    m = _log2fp_spark(m, "num", "lnum_fp")
    m = _log2fp_spark(m, "den", "lden_fp")
    return m.select(
        "pc",
        "bp",
        "c_big",
        "c_ctx",
        (F.col("lden_fp") - F.col("lnum_fp")).alias("surprisal_fp"),
    )


def _ctx_backoff(model: DataFrame) -> DataFrame:
    """(bp, unseen_fp): surprisal of an UNSEEN bigram in a seen context
    = log2fp(c_ctx + B) - log2fp(1) = lden_fp."""
    ctx = model.select("bp", "c_ctx").distinct().withColumn(
        "den", F.col("c_ctx") + LM_BUCKETS
    )
    ctx = _log2fp_spark(ctx, "den", "unseen_fp")
    return ctx.select("bp", "unseen_fp")


def score_against_model(model: DataFrame, docs: DataFrame) -> DataFrame:
    """Score ``docs`` against an ALREADY-TRAINED model frame (in-plan
    or read back from parquet — the stored-model production path).
    Unseen pairs back off to the context row, unseen contexts to the
    uniform log2(B).

    Columns: doc_id, n_bigrams, surprisal_fp, avg_bits."""
    backoff = _ctx_backoff(model)
    pairs = _doc_pairs(docs).withColumn(
        "bp", F.expr(f"pc div {LM_BUCKETS}")
    )
    scored = (
        pairs.join(F.broadcast(model.select("pc", "surprisal_fp")), "pc", "left")
        .join(F.broadcast(backoff), "bp", "left")
        .select(
            "doc_id",
            F.coalesce(
                "surprisal_fp", "unseen_fp", F.lit(_UNSEEN_CTX_FP)
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("s").alias("surprisal_fp"),
        )
    )
    out = docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("surprisal_fp", F.lit(0)).alias("surprisal_fp"),
    )
    return out.withColumn(
        "avg_bits",
        F.expr(_fp_round6_expr("surprisal_fp", "n_bigrams", "div")),
    )


def ngram_lm_surprisal(docs: DataFrame) -> DataFrame:
    """Self-scoring: train on ``docs``, score ``docs`` (one plan)."""
    return score_against_model(ngram_lm_model(docs), docs)


def ngram_lm_stored_cycle(spark, docs: DataFrame) -> DataFrame:
    """The stored-model deployment path as one gate row: TRAIN on the
    even-id half, persist the model table to parquet, read it back,
    SCORE the odd-id half against the stored model — which exercises
    the unseen-pair backoff and unseen-context default for real
    (self-scoring can never miss the model). The scratch dir is
    removed after an eager checkpoint (the index_probe_cycle pattern).

    Columns: doc_id, n_bigrams, surprisal_fp, avg_bits."""
    with scratch_dir("ngram_lm_store_") as d:
        train = docs.filter(F.col("doc_id") % 2 == 0)
        ngram_lm_model(train).write.mode("overwrite").parquet(d)
        stored = spark.read.parquet(d)
        out = score_against_model(
            stored, docs.filter(F.col("doc_id") % 2 == 1)
        )
        return out.localCheckpoint(eager=True)


# ----------------------------------------------------------------- oracles


def _pairs_cte(table: str) -> str:
    bkt = f"({md5_int_sql('t.tok', 15)} % {LM_BUCKETS})"
    return f"""tk AS (
  SELECT doc_id, generate_subscripts({token_array_sql('text')}, 1) AS pos,
         unnest({token_array_sql('text')}) AS tok
  FROM {table} WHERE text IS NOT NULL
),
bk AS (SELECT doc_id, pos, {bkt} AS b FROM tk t),
pr AS (
  SELECT a.doc_id, a.b * {LM_BUCKETS} + c.b AS pc
  FROM bk a JOIN bk c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1
)"""


def ngram_lm_model_sql(table: str = "documents") -> str:
    """DuckDB replay of the full training run, log2fp included."""
    return f"""
WITH {_pairs_cte(table)},
big AS (SELECT pc, pc // {LM_BUCKETS} AS bp, count(*) AS c_big
        FROM pr GROUP BY pc),
ctx AS (SELECT bp, sum(c_big)::BIGINT AS c_ctx FROM big GROUP BY bp),
m0 AS (SELECT big.pc, big.bp, big.c_big, ctx.c_ctx,
              (big.c_big + 1)::BIGINT AS num,
              (ctx.c_ctx + {LM_BUCKETS})::BIGINT AS den
       FROM big JOIN ctx USING (bp)),
{_log2fp_sql_ctes("m0", "num", "lnum", "pc, bp, c_big, c_ctx, den")},
{_log2fp_sql_ctes("lnum_done", "den", "lden", "pc, bp, c_big, c_ctx, lnum")}
SELECT pc, bp, c_big::BIGINT AS c_big, c_ctx::BIGINT AS c_ctx,
       (lden - lnum)::BIGINT AS surprisal_fp
FROM lden_done
"""


def ngram_lm_surprisal_sql() -> str:
    return ngram_lm_cross_sql("documents", "documents")


def ngram_lm_cross_sql(train_table: str, score_table: str) -> str:
    """Train on ``train_table``, score ``score_table`` — the stored-
    cycle mirror (identical joins; storage is value-transparent)."""
    table = score_table
    return f"""
WITH model AS ({ngram_lm_model_sql(train_table)}),
ctx0 AS (SELECT DISTINCT bp, (c_ctx + {LM_BUCKETS})::BIGINT AS den
         FROM model),
{_log2fp_sql_ctes("ctx0", "den", "ubits", "bp")},
{_pairs_cte(table)},
sc AS (
  SELECT p.doc_id,
         coalesce(m.surprisal_fp, u.ubits, {_UNSEEN_CTX_FP}) AS s
  FROM pr p
  LEFT JOIN model m USING (pc)
  LEFT JOIN ubits_done u ON u.bp = p.pc // {LM_BUCKETS}
),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               sum(s)::BIGINT AS surprisal_fp
        FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(a.surprisal_fp, 0)::BIGINT AS surprisal_fp,
       {_fp_round6_expr("coalesce(a.surprisal_fp, 0)", "coalesce(a.n_bigrams, 0)", "//")} AS avg_bits
FROM {table} d LEFT JOIN agg a USING (doc_id)
"""


# ----------------------------------------------------------- token entropy
def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    information-theoretic quality signal (low entropy = template spam /
    keyword stuffing; complements the Gopher repetition fractions and
    the type-token ratio). H = (1/n) * sum_t c_t * (log2 n - log2 c_t),
    computed ENTIRELY in fixed-point int64 via the same mantissa-
    squaring log2 as the LM trainer — which is what makes a per-doc
    entropy SQL-oracle-able at all (no libm on either engine).

    Scale shape: one (doc_id, token)-keyed count aggregate (partial-
    combined, slim rows — the token census shape), one per-doc rollup;
    log2fp(n) is computed once per DOC on the small per-doc table and
    joined back, log2fp(c) per distinct (doc, token) row. Text never
    shuffles.

    Columns: doc_id, n_tokens, entropy_sum_fp (= n*H in Q10 bits),
    avg_entropy_bits."""
    toks = token_array(F.col("text"))
    tk = docs.select("doc_id", F.explode(toks).alias("tok"))
    cnt = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    nn = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    nn = _log2fp_spark(nn, "n", "ln_fp")
    cnt = _log2fp_spark(cnt, "c", "lc_fp")
    terms = cnt.join(nn, "doc_id").select(
        "doc_id",
        "n",
        (F.col("c") * (F.col("ln_fp") - F.col("lc_fp"))).alias("term"),
    )
    agg = terms.groupBy("doc_id").agg(
        F.first("n").alias("n_tokens"),
        F.sum("term").alias("entropy_sum_fp"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("entropy_sum_fp", F.lit(0)).cast("long").alias(
            "entropy_sum_fp"
        ),
    ).withColumn(
        "avg_entropy_bits",
        F.expr(_fp_round6_expr("entropy_sum_fp", "n_tokens", "div")),
    )


def token_entropy_sql() -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, unnest({token_array_sql('text')}) AS tok
  FROM documents WHERE text IS NOT NULL
),
cnt AS (SELECT doc_id, tok, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
nn AS (SELECT doc_id, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
{_log2fp_sql_ctes("nn", "n", "lnn", "doc_id, n")},
{_log2fp_sql_ctes("cnt", "c", "lcc", "doc_id, tok, c")},
terms AS (
  SELECT c.doc_id, l.n, c.c * (l.lnn - c2.lcc) AS term
  FROM cnt c
  JOIN lnn_done l USING (doc_id)
  JOIN lcc_done c2 ON c2.doc_id = c.doc_id AND c2.tok = c.tok
),
agg AS (SELECT doc_id, any_value(n)::BIGINT AS n_tokens,
               sum(term)::BIGINT AS entropy_sum_fp
        FROM terms GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.entropy_sum_fp, 0)::BIGINT AS entropy_sum_fp,
       {_fp_round6_expr("coalesce(a.entropy_sum_fp, 0)", "coalesce(a.n_tokens, 0)", "//")} AS avg_entropy_bits
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# ------------------------------------------------------- source KL drift
def source_kl(docs: DataFrame) -> DataFrame:
    """Per-source KL divergence of the source's token distribution from
    the corpus distribution — the domain-drift readout (which sources
    talk differently from the mix; feeds mixture reweighting and
    spam-source triage; DSIR's importance weights are the per-DOC
    sibling of this per-SOURCE number).

    KL(p_s || p_c) = (1/n_s) * sum_t c_st * [(L(c_st) + L(N))
                                             - (L(n_s) + L(c_ct))]
    with L = the shared fixed-point log2 — all-integer until the final
    rounded readout, so the oracle replays it exactly. Smoothing-free:
    every source token exists in the corpus census by construction
    (c_ct >= c_st), so no zero-probability terms arise.

    Scale shape: one (source, token) census + one token census derived
    from it (bounded by vocab, slim rows), two join-backs keyed by the
    census keys; the four log2fp chains run on census-sized tables.

    Columns: source, n_tokens, kl_sum_fp, kl_bits."""
    toks = token_array(F.col("text"))
    tk = docs.filter(F.col("source").isNotNull()).select(
        "source", F.explode(toks).alias("tok")
    )
    sc = tk.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    ct = sc.groupBy("tok").agg(F.sum("c_st").alias("c_ct"))
    ns = sc.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    nn = ns.agg(F.sum("n_s").alias("n_tot"))
    sc = _log2fp_spark(sc, "c_st", "l_cst")
    ct = _log2fp_spark(ct, "c_ct", "l_cct")
    ns = _log2fp_spark(ns, "n_s", "l_ns")
    nn = _log2fp_spark(nn, "n_tot", "l_n")
    terms = (
        sc.join(ct.select("tok", "l_cct"), "tok")
        .join(ns.select("source", "l_ns"), "source")
        .crossJoin(F.broadcast(nn.select("l_n")))
        .select(
            "source",
            (
                F.col("c_st")
                * (
                    F.col("l_cst")
                    + F.col("l_n")
                    - F.col("l_ns")
                    - F.col("l_cct")
                )
            ).alias("term"),
        )
    )
    agg = terms.groupBy("source").agg(F.sum("term").alias("kl_sum_fp"))
    return (
        ns.select("source", "n_s")
        .join(agg, "source")
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.col("kl_sum_fp").cast("long").alias("kl_sum_fp"),
        )
        .withColumn(
            "kl_bits",
            F.expr(_fp_round6_expr("kl_sum_fp", "n_tokens", "div")),
        )
    )


def source_kl_sql() -> str:
    return f"""
WITH tk AS (
  SELECT source, unnest({token_array_sql('text')}) AS tok
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
sc AS (SELECT source, tok, count(*)::BIGINT AS c_st FROM tk GROUP BY 1, 2),
ct AS (SELECT tok, sum(c_st)::BIGINT AS c_ct FROM sc GROUP BY 1),
ns AS (SELECT source, sum(c_st)::BIGINT AS n_s FROM sc GROUP BY 1),
nn AS (SELECT sum(n_s)::BIGINT AS n_tot FROM ns),
{_log2fp_sql_ctes("sc", "c_st", "lcst", "source, tok, c_st")},
{_log2fp_sql_ctes("ct", "c_ct", "lcct", "tok")},
{_log2fp_sql_ctes("ns", "n_s", "lns", "source, n_s")},
{_log2fp_sql_ctes("nn", "n_tot", "ln", "1 AS one")},
terms AS (
  SELECT s.source,
         s.c_st * (s.lcst + n.ln - x.lns - c.lcct) AS term
  FROM lcst_done s
  JOIN lcct_done c USING (tok)
  JOIN lns_done x USING (source)
  CROSS JOIN ln_done n
),
agg AS (SELECT source, sum(term)::BIGINT AS kl_sum_fp FROM terms GROUP BY 1)
SELECT x.source, x.n_s::BIGINT AS n_tokens, a.kl_sum_fp,
       {_fp_round6_expr("a.kl_sum_fp", "x.n_s", "//")} AS kl_bits
FROM lns_done x JOIN agg a USING (source)
"""


# ------------------------------------------------------ per-language LMs
def ngram_lm_by_lang(docs: DataFrame) -> DataFrame:
    """CCNet-faithful per-LANGUAGE models (arXiv:1911.00359 trains one
    KenLM per language; a single pooled model lets the dominant
    language set everyone's norms): every doc scores under its OWN
    language's bigram model, trained in the same pass. One extra key
    column on the same bounded aggregates — the model space is
    |langs| x B^2, still broadcast-sized; lang rides the pair
    exchange as a few bytes.

    Docs with NULL lang are excluded (route them through langid
    first — the production order). Unseen pairs back off to the
    (lang, context) row; unseen contexts to the uniform log2(B).

    Columns: doc_id, lang, n_bigrams, surprisal_fp, avg_bits."""
    base = docs.filter(F.col("lang").isNotNull())
    pairs = _doc_pairs(base, carry=("lang",)).withColumn(
        "bp", F.expr(f"pc div {LM_BUCKETS}")
    )
    big = pairs.groupBy("lang", "pc").agg(F.count("*").alias("c_big"))
    big = big.withColumn("bp", F.expr(f"pc div {LM_BUCKETS}"))
    ctx = big.groupBy("lang", "bp").agg(F.sum("c_big").alias("c_ctx"))
    m = (
        big.join(ctx, ["lang", "bp"])
        .withColumn("num", F.col("c_big") + 1)
        .withColumn("den", F.col("c_ctx") + LM_BUCKETS)
    )
    m = _log2fp_spark(m, "num", "lnum_fp")
    m = _log2fp_spark(m, "den", "lden_fp")
    model = m.select(
        "lang", "pc", (F.col("lden_fp") - F.col("lnum_fp")).alias("s_fp")
    )
    bo = _log2fp_spark(
        ctx.withColumn("den", F.col("c_ctx") + LM_BUCKETS), "den", "unseen_fp"
    ).select("lang", "bp", "unseen_fp")
    scored = (
        pairs.join(F.broadcast(model), ["lang", "pc"], "left")
        .join(F.broadcast(bo), ["lang", "bp"], "left")
        .select(
            "doc_id",
            F.coalesce("s_fp", "unseen_fp", F.lit(_UNSEEN_CTX_FP)).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("s").alias("surprisal_fp"),
        )
    )
    return base.select("doc_id", "lang").join(scored, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("surprisal_fp", F.lit(0)).cast("long").alias(
            "surprisal_fp"
        ),
    ).withColumn(
        "avg_bits",
        F.expr(_fp_round6_expr("surprisal_fp", "n_bigrams", "div")),
    )


def ngram_lm_by_lang_sql() -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, lang, generate_subscripts({token_array_sql('text')}, 1) AS pos,
         unnest({token_array_sql('text')}) AS tok
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
bk AS (SELECT doc_id, lang, pos, ({md5_int_sql('t.tok', 15)} % {LM_BUCKETS}) AS b
       FROM tk t),
pr AS (
  SELECT a.doc_id, a.lang, a.b * {LM_BUCKETS} + c.b AS pc
  FROM bk a JOIN bk c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1
),
big AS (SELECT lang, pc, pc // {LM_BUCKETS} AS bp, count(*) AS c_big
        FROM pr GROUP BY 1, 2),
ctx AS (SELECT lang, bp, sum(c_big)::BIGINT AS c_ctx
        FROM big GROUP BY 1, 2),
m0 AS (SELECT big.lang, big.pc, big.bp, big.c_big, ctx.c_ctx,
              (big.c_big + 1)::BIGINT AS num,
              (ctx.c_ctx + {LM_BUCKETS})::BIGINT AS den
       FROM big JOIN ctx USING (lang, bp)),
{_log2fp_sql_ctes("m0", "num", "lnum", "lang, pc, den")},
{_log2fp_sql_ctes("lnum_done", "den", "lden", "lang, pc, lnum")},
model AS (SELECT lang, pc, (lden - lnum)::BIGINT AS s_fp FROM lden_done),
ctx0 AS (SELECT lang, bp, (c_ctx + {LM_BUCKETS})::BIGINT AS den FROM ctx),
{_log2fp_sql_ctes("ctx0", "den", "ubits", "lang, bp")},
sc AS (
  SELECT p.doc_id,
         coalesce(m.s_fp, u.ubits, {_UNSEEN_CTX_FP}) AS s
  FROM pr p
  LEFT JOIN model m ON m.lang = p.lang AND m.pc = p.pc
  LEFT JOIN ubits_done u
    ON u.lang = p.lang AND u.bp = p.pc // {LM_BUCKETS}
),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               sum(s)::BIGINT AS surprisal_fp
        FROM sc GROUP BY doc_id)
SELECT d.doc_id, d.lang,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(a.surprisal_fp, 0)::BIGINT AS surprisal_fp,
       {_fp_round6_expr("coalesce(a.surprisal_fp, 0)", "coalesce(a.n_bigrams, 0)", "//")} AS avg_bits
FROM documents d LEFT JOIN agg a USING (doc_id)
WHERE d.lang IS NOT NULL
"""
