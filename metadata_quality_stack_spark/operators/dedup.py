"""Deduplication operators for web-scale training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash.
All hashes are content-derived (md5 / seeded polynomial) so the DuckDB
oracle computes identical values — no engine-internal hash functions.

Scale notes (100 TB design):
* exact dedup  — one shuffle on the 128-bit fingerprint; AQE coalesces.
* minhash LSH  — shingle->signature is map-side only; the only shuffle is
  the band-bucket explode+groupBy (k_bands rows/doc, tiny vs text).
* pairwise jaccard is intentionally candidate-limited; at scale it runs
  AFTER LSH banding on candidate pairs only, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int, md5_int_sql
from metadata_quality_stack_spark.functions.text import (
    token_array as tokens,
    token_array_sql,
    word_ngrams,
)

N_MINHASH = 8
N_BANDS = 4  # rows-per-band = 2
SHINGLE_N = 3
# incremental-dedup gate split: doc_id % NEW_BATCH_MOD == 0 is the new
# batch, the rest the existing corpus
NEW_BATCH_MOD = 10


def _shingles(text_col):
    """Distinct 3-word shingles (space-joined), [] when < 3 tokens.
    zip_with-over-slices (functions/text.word_ngrams), not transform-
    with-slice-inside-the-lambda — the latter re-tokenizes per element
    under interpreted HOF eval (O(T^2), the gopher.py lesson)."""
    return F.array_distinct(word_ngrams(tokens(text_col), SHINGLE_N))


def shingles_sql() -> str:
    toks = token_array_sql("text")
    return (
        f"CASE WHEN len({toks}) >= {SHINGLE_N} THEN "
        f"list_distinct(list_transform(generate_series(1, len({toks}) - {SHINGLE_N - 1}), "
        f"i -> array_to_string(({toks})[i:i+{SHINGLE_N - 1}], ' '))) "
        f"ELSE [] END"
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: md5(text) fingerprint -> group stats + canonical id.
    At scale: single hash-shuffle on the fingerprint."""
    fp = F.md5(F.encode(F.col("text"), "UTF-8"))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_dups"))
    )


# universal-hash family for minhash: base(s) = first 28 bits of md5(s),
# h_k(s) = (A_k * base + B_k) mod M  — one md5 per shingle, k cheap affines.
# A_k < 2^31 and base < 2^28 keep products < 2^60 (int64-safe in DuckDB too).
MINHASH_M = (1 << 31) - 1
MINHASH_A = [1099087573, 1299709, 15485863, 32452843,
             49979687, 67867967, 86028121, 104395301]
MINHASH_B = [(k * 2654435761) % MINHASH_M for k in range(8)]


def _minhash_coeffs(n_hashes: int) -> tuple[list[int], list[int]]:
    """Affine coefficients for a k-hash family. The first 8 A's are the
    literal primes above — every committed oracle replays exactly those,
    so they can never change. Beyond 8 (production-k runs: k=128 for the
    published S-curve) A extends by a fixed LCG over the same modulus:
    deterministic, documented, and cheap to replicate in any engine.
    A stays < 2^31 so A*base stays int64-safe."""
    a = list(MINHASH_A[:n_hashes])
    x = MINHASH_A[-1]
    while len(a) < n_hashes:
        x = (x * 1299721 + 104729) % MINHASH_M
        if x == 0:  # degenerate hash (constant) — skip
            continue
        a.append(x)
    b = [(k * 2654435761) % MINHASH_M for k in range(n_hashes)]
    return a, b


def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash over 3-word shingles with a universal affine hash family
    over a 28-bit md5-derived base (numeric min; empty shingles -> NULL).

    Shape: explode shingles -> one md5 per (doc, shingle) -> hash
    aggregate of k affine mins. Everything stays in whole-stage codegen
    (the earlier array-fold formulation used higher-order lambdas, which
    are interpreted and excluded from subexpression elimination — measured
    ~10x slower). Partial min aggregation combines map-side, so the only
    shuffled payload is one (doc_id, k longs) row per doc per partition:
    signatures move, raw shingles never do — the at-scale design.
    Docs with no shingles survive via explode_outer: NULL base -> NULL mins."""
    sh = _shingles(F.col("text"))
    ex = docs.select("doc_id", F.explode_outer(sh).alias("s"))
    base = md5_int(F.col("s"), 7)
    with_base = ex.select("doc_id", base.alias("base"))
    coeff_a, coeff_b = _minhash_coeffs(n_hashes)
    return with_base.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(coeff_a[k]) * F.col("base") + F.lit(coeff_b[k]))
                % F.lit(MINHASH_M)
            ).alias(f"mh{k}")
            for k in range(n_hashes)
        ]
    )


def minhash_bands(
    docs: DataFrame, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS
) -> DataFrame:
    """LSH banding: band bucket = md5(concat of the band's minhashes).
    Output one row per (doc, band) — the shuffle-side key for candidate join.

    Docs with no shingles (< 3 tokens) are EXCLUDED: their signature is
    all-NULL, and keeping them would give every empty/boilerplate-short
    page the same bucket — at crawl scale (billions of such pages) the
    bucket self-join in minhash_candidate_pairs goes quadratic on exactly
    that bucket. Short docs belong to exact dedup (exact_dedup_groups),
    not LSH; they come out of dedup_clusters as singletons."""
    sigs = minhash_signatures(docs, n_hashes=n_hashes).filter(
        F.col("mh0").isNotNull()
    )
    return _bands_from_sigs(sigs, n_hashes=n_hashes, n_bands=n_bands)


def _bands_from_sigs(
    sigs: DataFrame, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS
) -> DataFrame:
    """Banding over an already-computed signature frame — callers that
    need both signatures and bands (minhash_jaccard_estimate) compute the
    shingle+hash pass ONCE and band from it, instead of paying the full
    signature scan twice; identical subtrees also let ReuseExchange
    collapse the shuffle when both appear in one plan."""
    rows_per_band = n_hashes // n_bands
    band_cols = []
    for b in range(n_bands):
        parts = [
            F.coalesce(F.col(f"mh{b * rows_per_band + i}").cast("string"), F.lit(""))
            for i in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.encode(F.concat_ws("|", *parts), "UTF-8")).alias("bucket"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_candidate_pairs(
    docs: DataFrame, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS
) -> DataFrame:
    """Docs sharing any LSH band bucket (self-join on bucket, d1 < d2)."""
    return _pairs_from_bands(
        minhash_bands(docs, n_hashes=n_hashes, n_bands=n_bands)
    )


def _pairs_from_bands(bands: DataFrame) -> DataFrame:
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.2, max_df: int | None = None
) -> DataFrame:
    """Pairwise Jaccard over distinct 3-shingles via shingle-inverted-index
    self-join. At 100 TB this runs only on LSH candidates; here the input
    is expected to be pre-limited by the caller.

    ``max_df`` enables frequent-shingle pruning: shingles appearing in
    more than ``max_df`` documents (boilerplate n-grams — "all rights
    reserved …") are dropped from the index BEFORE the self-join, which
    is otherwise quadratic in each hot shingle's posting list. The hot
    set is tiny (few distinct shingles, however many postings), so it
    rides a broadcast anti-join; document sizes are recomputed over the
    retained shingles, keeping the Jaccard definition self-consistent."""
    sh = docs.select("doc_id", F.explode(_shingles(F.col("text"))).alias("s"))
    if max_df is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        common.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_common", "jaccard")
    )


# 55-bit seeded polynomial string hash — overflow-safe in int64 for both
# engines (31*h + 127 < 2^60 when h < 2^55).
_POLY_MOD = 1 << 55


def _poly_hash(col):
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % _POLY_MOD,
    )


def poly_hash_sql(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(7 AS BIGINT), "
        f"list_transform(string_split_regex({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {_POLY_MOD})"
    )


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash over lowercased tokens with the seeded polynomial hash;
    bit j set when sum over tokens of (+1/-1 by hash bit j) > 0.

    The token-hash array is materialized in a staged projection (see
    rules.stage) so the 16 per-bit vote folds iterate an attribute array
    instead of re-hashing every token 16x.

    Shape note (round-4 re-measure of the r03 bench drift): an
    explode + groupBy(doc_id) rewrite of the votes (the
    minhash_signatures pattern) was built, gate-verified identical, and
    A/B-measured IN ONE PROCESS, steal-free, both orders, at sf0.1:
    this fold runs 0.41-0.50 s, the explode+agg form 0.68-0.79 s —
    here the 16 cheap interpreted vote steps per token beat the
    5.5M-row explode + exchange + hash-agg machinery, and the fold is
    also map-only (zero Exchange), which is the shape you want at
    100 TB anyway. The r02->r03 0.567->0.850 bench delta reproduced on
    NEITHER variant under in-process A/B — it is process/host variance
    (JIT + ambient), not code. Kept: the fold."""
    from metadata_quality_stack_spark.operators.rules import stage

    lows = F.transform(tokens(F.col("text")), lambda x: F.lower(x))
    docs = stage(
        docs, ["doc_id"], {"hashes": F.transform(lows, lambda x: _poly_hash(x))}
    )

    def vote(j: int):
        return F.aggregate(
            F.col("hashes"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    bit_terms = [
        F.when(vote(j) > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(16)
    ]
    sim = bit_terms[0]
    for t in bit_terms[1:]:
        sim = sim + t
    return docs.select("doc_id", sim.cast("long").alias("simhash"))


def line_dup_stats(docs: DataFrame) -> DataFrame:
    """C4-style line-level duplication census: for every document, how
    many of its non-blank lines also occur in OTHER documents (global
    document-frequency of the line hash > 1). The boilerplate detector
    that operates across the corpus rather than within a page.

    Shape: explode lines -> md5 -> df = countDistinct(doc) per hash (one
    shuffle, map-side partial). Lines move as 16-byte hashes, never as
    text. Like dup_ngram_fraction, the rollup avoids joining every line
    position against the full df table: n_lines is recomputed map-only
    (native size-of-filtered-split), and only positions whose hash is
    DUPLICATED (df > 1) flow through the numerator join — the df=1
    majority of a mostly-unique corpus never enters the second
    exchange. Output keeps the original contract: one row per doc with
    >= 1 non-blank line."""
    n_lines_expr = F.size(
        F.filter(
            F.split("text", "\n", -1), lambda x: F.trim(x) != ""
        )
    ).cast("long")
    hashed = (
        docs.select(
            "doc_id", F.explode(F.split("text", "\n", -1)).alias("line")
        )
        .filter(F.trim(F.col("line")) != "")
        .select("doc_id", F.md5(F.encode(F.col("line"), "UTF-8")).alias("lh"))
    )
    dup_hashes = (
        hashed.groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > 1)
        .select("lh")
    )
    n_dup = (
        hashed.join(dup_hashes, "lh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_lines"))
    )
    base = docs.select("doc_id", n_lines_expr.alias("n_lines")).filter(
        F.col("n_lines") > 0
    )
    return base.join(n_dup, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_dup_lines", F.lit(0)).cast("long").alias("n_dup_lines"),
        F.round(
            F.coalesce(
                F.col("n_dup_lines").cast("double")
                / F.nullif(F.col("n_lines").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_line_fraction"),
    )


DUP_NGRAM_N = 5  # 13 in MassiveText; 5 keeps small-SF tests meaningful


def dup_ngram_fraction(docs: DataFrame) -> DataFrame:
    """Inter-document repetition census (the cross-corpus complement of
    the within-doc repetition_stats and the line-level line_dup_stats):
    for every document, the fraction of its word n-gram POSITIONS whose
    n-gram also occurs in at least one OTHER document. The
    MassiveText/RefinedWeb-style "duplicated n-gram fraction" readout
    that flags template spam and syndicated boilerplate that line-exact
    dedup misses (publicly described in the Gopher appendix A1.1 and the
    RefinedWeb paper; no reference-stack analog — beyond-reference
    training-data axis).

    df counts DISTINCT docs per n-gram hash, so a phrase repeated only
    within one document does not count as inter-document duplication.

    Shape: n-grams are hashed to 16-byte md5 IN THE SCAN STAGE, so the
    census shuffle moves hashes, never phrase text; df agg partials
    combine map-side. The per-doc rollup deliberately does NOT join the
    full position stream back to the full df table: the DENOMINATOR
    (n-gram position count) is recomputed map-only from the token count
    in a second scan, and only positions whose hash is in the
    DUPLICATED set (df > 1 — the boilerplate minority) flow through the
    numerator join. In a mostly-unique corpus that removes the dominant
    df=1 traffic from the second exchange; a second map-only
    scan+tokenize is far cheaper than shuffling every position twice.
    Both join legs hash-partition on gh, so the scan+explode subtree is
    a single ReusedExchange. Docs with < n tokens report zero
    n-grams."""
    grams = word_ngrams(tokens(F.col("text")), DUP_NGRAM_N)
    hashed = docs.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.md5(F.encode(F.col("g"), "UTF-8")).alias("gh")
    )
    dup_hashes = (
        hashed.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > 1)
        .select("gh")
    )
    n_dup = (
        hashed.join(dup_hashes, "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_ngrams"))
    )
    base = docs.select(
        "doc_id",
        F.greatest(
            F.size(tokens(F.col("text"))) - (DUP_NGRAM_N - 1), F.lit(0)
        ).cast("long").alias("n_ngrams"),
    )
    return base.join(n_dup, "doc_id", "left").select(
        "doc_id",
        "n_ngrams",
        F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias(
            "n_dup_ngrams"
        ),
        F.round(
            F.coalesce(
                F.col("n_dup_ngrams").cast("double")
                / F.nullif(F.col("n_ngrams").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_ngram_fraction"),
    )


def dup_ngram_fraction_sql() -> str:
    """DuckDB mirror of :func:`dup_ngram_fraction` (same tokenization as
    shingles_sql, positional n-grams, distinct-doc df)."""
    toks = token_array_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
arr AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= {DUP_NGRAM_N} THEN
      list_transform(generate_series(1, len(tk) - {DUP_NGRAM_N - 1}),
                     i -> array_to_string(tk[i:i+{DUP_NGRAM_N - 1}], ' '))
    ELSE [] END AS grams
  FROM t
),
ex AS (SELECT doc_id, md5(unnest(grams)) AS gh FROM arr),
dfc AS (SELECT gh, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
pd AS (
  SELECT e.doc_id, count(*) AS n_ngrams,
         sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_dup_ngrams
  FROM ex e JOIN dfc USING (gh) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(pd.n_ngrams, 0) AS BIGINT) AS n_ngrams,
  CAST(coalesce(pd.n_dup_ngrams, 0) AS BIGINT) AS n_dup_ngrams,
  round(coalesce(CAST(pd.n_dup_ngrams AS DOUBLE)
                 / nullif(CAST(pd.n_ngrams AS DOUBLE), 0.0), 0.0), 6)
    AS dup_ngram_fraction
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def drop_duplicated_lines(docs: DataFrame) -> DataFrame:
    """C4's corpus-level boilerplate scrub: rebuild each document with
    globally-duplicated lines removed (a line survives only if its hash
    occurs in exactly one document). Order-preserving: lines re-assemble
    by original position. Docs whose every line is boilerplate come back
    as the empty string."""
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n", -1)).alias("pos", "line")
    ).filter(F.trim(F.col("line")) != "")
    hashed = lines.withColumn(
        "lh", F.md5(F.encode(F.col("line"), "UTF-8"))
    )
    # anti-join against the (small) duplicated-hash set instead of an
    # inner join carrying a df for EVERY distinct line: the right side
    # of the exchange shrinks from all-hashes to boilerplate-only
    dup_hashes = (
        hashed.groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > 1)
        .select("lh")
    )
    kept = hashed.join(dup_hashes, "lh", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text")
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("clean_text", F.lit("")).alias("clean_text")
        )
    )


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the MinHash
    LSH candidate graph via alternating large-star/small-star rounds
    (:func:`star_components`). cluster = min(doc_id) of the component —
    canonical keep-one-per-cluster dedup.

    100 TB shape: state is only the canonical (lo, hi) edge list — two
    longs per candidate edge, text and signatures long gone; each round
    is two node-keyed hash-shuffles; the edge count never exceeds the
    input candidate count (star rounds only re-point edges). At the
    fixed point the graph is a disjoint union of stars centered at
    component minima (SoCC 2014, Thm 2), so labels read off the edge
    list with one final aggregation — no label table is carried between
    rounds, and docs without a candidate edge label themselves."""
    pairs = minhash_candidate_pairs(docs)
    edges = pairs.select(F.col("d1").alias("lo"), F.col("d2").alias("hi"))
    stars, _rounds = star_components(edges)
    labels = stars.groupBy("hi").agg(F.min("lo").alias("cluster"))
    return (
        docs.select("doc_id")
        .join(
            labels.select(F.col("hi").alias("doc_id"), "cluster"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster", F.col("doc_id")).alias("cluster"),
        )
    )


def cluster_size_histogram(docs: DataFrame) -> DataFrame:
    """Dedup-audit readout: the distribution of near-dup cluster sizes
    (how many clusters of size 1, 2, 3, ...). The first thing an
    operator checks after a fuzzy-dedup run — a fat tail means template
    spam or an LSH parameter problem; at crawl scale the largest
    clusters get hand-reviewed before their representatives are kept.
    Two tiny aggregations over the (doc_id, cluster) labels; text and
    signatures are long gone by this stage."""
    clusters = dedup_clusters(docs)
    sizes = clusters.groupBy("cluster").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )


def fuzzy_dedup_keep(docs: DataFrame) -> DataFrame:
    """Fuzzy (MinHash/LSH) deduplication as a SELECTION MASK: every doc
    with a keep flag, keeping exactly the min-doc_id representative of
    each near-duplicate cluster — the fuzzy twin of the exact-dedup
    min_by selection (plans/curate.py) and the SemDeDup keep-mask
    (similarity.semantic_dedup). Non-duplicates are their own cluster
    and are always kept. The mask composes with the curation pipeline
    by a doc_id join (labels are ~16 bytes/doc; text never moves)."""
    clusters = dedup_clusters(docs)
    return clusters.select(
        "doc_id", (F.col("cluster") == F.col("doc_id")).alias("keep")
    )


def minhash_jaccard_estimate(docs: DataFrame) -> DataFrame:
    """Signature-agreement Jaccard estimate for every LSH candidate pair
    — the text-free verify stage between banding and any exact check.
    E[fraction of equal minhashes] = Jaccard(shingle sets), so the
    estimate costs k integer comparisons per pair instead of re-reading
    two documents. Pipeline: bands -> candidate pairs -> THIS (drop
    pairs whose estimate is under threshold) -> exact Jaccard only on
    the survivors (ngram_jaccard_pairs semantics).

    Scale shape: candidate pairs carry two 8-byte ids; each side joins
    the signature table (k longs/doc) on doc_id — two hash joins whose
    shuffled payload is O(pairs + docs) small fixed-width rows. Raw
    text never moves. With k=8 hashes the estimate is coarse
    (granularity 1/8) — it is a pre-filter dial, not a measurement;
    production would carry k=128 signatures through the same plan.

    Columns: d1, d2, n_agree, est_jaccard."""
    sigs = minhash_signatures(docs).filter(F.col("mh0").isNotNull())
    # bands/pairs derive from the SAME sigs frame — one shingle+hash
    # signature pass in the plan, not two (ReuseExchange collapses the
    # agg shuffle shared by the banding and the two join sides)
    pairs = _pairs_from_bands(_bands_from_sigs(sigs))
    a = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k in range(N_MINHASH)],
    )
    b = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k in range(N_MINHASH)],
    )
    agree = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("long") for k in range(N_MINHASH)
    )
    return (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            agree.alias("n_agree"),
            F.round(agree.cast("double") / F.lit(float(N_MINHASH)), 6).alias(
                "est_jaccard"
            ),
        )
    )


def fuzzy_dedup_new_batch(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental NEAR-dup: a new crawl batch probed against the
    existing corpus's stored LSH band index — the fuzzy twin of
    :func:`dedup_new_batch` and the production ingest mode at 100 TB
    (nobody re-clusters 10^12 documents per crawl delta; the delta is
    banded and probed against the historical index).

    A batch document is flagged near_dup_of_corpus iff ANY of its LSH
    band buckets already exists in the corpus index. Documents with no
    shingles (< 3 tokens) produce no bands and are never flagged here —
    they belong to the exact path (dedup_new_batch), same contract as
    minhash_bands.

    Scale shape: the corpus side ships ONLY distinct (band, bucket)
    pairs (~20 bytes x N_BANDS per doc, not text, not signatures); with
    the index maintained as a table bucketed on (band, bucket)
    (sources/bucketed.py) the historical side's shuffle disappears and
    only the delta's bands move. The hit count aggregates map-side;
    the final left join runs on batch ids only.

    Columns: doc_id, n_hit_bands, near_dup_of_corpus, keep."""
    corpus_idx = minhash_bands(corpus).select("band", "bucket").distinct()
    batch_bands = minhash_bands(new_docs)
    hits = (
        batch_bands.join(corpus_idx, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_bands"))
    )
    return (
        new_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit_bands"), F.lit(0)).cast("long").alias(
                "n_hit_bands"
            ),
            (F.coalesce(F.col("n_hit_bands"), F.lit(0)) > 0).alias(
                "near_dup_of_corpus"
            ),
            (F.coalesce(F.col("n_hit_bands"), F.lit(0)) == 0).alias("keep"),
        )
    )


def dedup_new_batch(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental dedup: a NEW batch against the EXISTING corpus's
    fingerprint index — the production mode at 100 TB (a crawl delta is
    deduped against the historical index; nobody re-clusters the whole
    corpus per ingest). A doc survives iff its exact fingerprint is
    absent from the corpus AND it is the batch's first occurrence
    (min doc_id) of that fingerprint.

    Scale shape: the corpus side ships ONLY distinct md5 fingerprints
    (16 bytes/doc, not text); the probe is one hash join on the
    fingerprint — with the index stored as a bucketed table
    (sources/bucketed.py) the historical side's shuffle disappears
    entirely and only the delta moves. Within-batch first-occurrence
    is a min_by-free groupBy(min) + self-equality, no window sort.

    Output: (doc_id, fingerprint, seen_in_corpus, first_in_batch,
    keep)."""
    fp = F.md5(F.encode(F.col("text"), "UTF-8"))
    corpus_fp = corpus.select(fp.alias("fingerprint")).distinct()
    batch = new_docs.select("doc_id", fp.alias("fingerprint"))
    first = batch.groupBy("fingerprint").agg(
        F.min("doc_id").alias("_first_id")
    )
    seen = corpus_fp.withColumn("_seen", F.lit(True))
    return (
        batch.join(first, "fingerprint")
        .join(seen, "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.coalesce(F.col("_seen"), F.lit(False)).alias("seen_in_corpus"),
            (F.col("doc_id") == F.col("_first_id")).alias("first_in_batch"),
            (
                ~F.coalesce(F.col("_seen"), F.lit(False))
                & (F.col("doc_id") == F.col("_first_id"))
            ).alias("keep"),
        )
    )


def dedup_new_batch_sql() -> str:
    """DuckDB mirror: docs with doc_id % NEW_BATCH_MOD == 0 are the new
    batch, the rest the existing corpus."""
    return f"""
WITH batch AS (SELECT doc_id, md5(text) AS fingerprint FROM documents
               WHERE doc_id % {NEW_BATCH_MOD} = 0),
corpus_fp AS (SELECT DISTINCT md5(text) AS fingerprint FROM documents
              WHERE doc_id % {NEW_BATCH_MOD} <> 0),
first AS (SELECT fingerprint, min(doc_id) AS first_id FROM batch GROUP BY 1)
SELECT b.doc_id, b.fingerprint,
       (c.fingerprint IS NOT NULL) AS seen_in_corpus,
       (b.doc_id = f.first_id) AS first_in_batch,
       (c.fingerprint IS NULL AND b.doc_id = f.first_id) AS keep
FROM batch b
JOIN first f USING (fingerprint)
LEFT JOIN corpus_fp c USING (fingerprint)
"""


# ---------------------------------------------------------------------------
# exact-substring (duplicated-span) dedup — Lee et al. 2021,
# arXiv:2107.06499 ("Deduplicating Training Data Makes Language Models
# Better"). The published method builds a corpus-wide suffix array and
# removes every repeated byte span >= 50 BPE tokens, keeping one copy.
# A suffix array is a single-machine structure; the Spark re-expression
# below gets the same keep-one-copy semantics from rolling token
# windows: every occurrence of a duplicated W-token window EXCEPT the
# globally-first one (ordered by (doc_id, pos)) marks its token range
# for removal, and overlapping windows of a long repeated passage fuse
# into one removed span for free because removal works on the covered
# token-index SET. Window granularity is whole words (not BPE) so the
# DuckDB oracle reproduces the run bit-for-bit.
# ---------------------------------------------------------------------------

SPAN_W = 10  # 50 BPE tokens in the paper; 10 words keeps small-SF tests meaningful


def _span_occurrences(docs: DataFrame, w: int):
    """(doc_id, pos, gh) for every W-token window; pos is 0-based."""
    base = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    occ = base.select(
        "doc_id", F.posexplode(word_ngrams(F.col("tk"), w)).alias("pos", "g")
    ).select("doc_id", "pos", F.md5(F.encode(F.col("g"), "UTF-8")).alias("gh"))
    return base, occ


def _removed_windows(occ: DataFrame):
    """Non-canonical occurrences of duplicated window hashes.

    Shape: the occurrence-count aggregate partial-combines map-side, and
    only hashes with cnt > 1 (the boilerplate minority) flow into the
    row_number window — the cnt = 1 majority of a mostly-unique corpus
    never enters the second exchange (the dup_ngram_fraction asymmetry).
    Occurrence count, not distinct-doc count: a passage repeated WITHIN
    one document is deduplicated too, exactly as in the paper."""
    from pyspark.sql.window import Window

    dup_hashes = (
        occ.groupBy("gh")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("gh")
    )
    rn = F.row_number().over(
        Window.partitionBy("gh").orderBy("doc_id", "pos")
    )
    return occ.join(dup_hashes, "gh").withColumn("rn", rn).filter(
        F.col("rn") > 1
    )


def dup_span_stats(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Census twin of :func:`drop_duplicated_spans`: per document, how
    many of its W-token windows are non-canonical duplicates (would be
    removed), without paying for text reassembly. The denominator is
    recomputed map-only from the token count; exchanges carry 16-byte
    hashes and int positions, never text."""
    n_windows = F.greatest(
        F.size(tokens(F.col("text"))) - (w - 1), F.lit(0)
    ).cast("long")
    _, occ = _span_occurrences(docs, w)
    per_doc = (
        _removed_windows(occ)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_windows"))
    )
    return (
        docs.select("doc_id", n_windows.alias("n_windows"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.round(
                F.coalesce(
                    F.col("n_dup_windows").cast("double")
                    / F.nullif(F.col("n_windows").cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("dup_window_fraction"),
        )
    )


def drop_duplicated_spans(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Rebuild each document with every repeated >= W-token span removed
    except its globally-first occurrence (min (doc_id, pos)). Output
    text is the space-join of surviving tokens — whitespace-canonical by
    contract, like the paper's token-level cut.

    Scale shape: duplicate detection moves (gh, doc_id, pos) triples
    only; the removal side aggregates to ONE row per affected document
    (a sorted int array of covered token indexes, bounded by doc
    length), so the join back to the text is broadcast-able whenever
    duplication is the usual small minority — the document text itself
    never shuffles. The per-token membership probe is array_contains on
    a materialized column (bound reference, no subtree re-eval)."""
    base, occ = _span_occurrences(docs, w)
    rem = (
        _removed_windows(occ)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
            ).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("idx")).alias("removed"))
    )
    joined = base.join(rem, "doc_id", "left").select(
        "doc_id",
        "tk",
        F.coalesce("removed", F.array().cast("array<int>")).alias("removed"),
    )
    return joined.select(
        "doc_id",
        # coalesce: NULL text canonicalizes to '' exactly as in the SQL
        # mirror (and in drop_duplicated_lines)
        F.coalesce(
            F.array_join(
                F.filter(
                    F.col("tk"),
                    lambda x, i: ~F.array_contains(F.col("removed"), i),
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.size("removed").cast("long").alias("n_removed_tokens"),
    )


def drop_duplicated_spans_sql() -> str:
    """DuckDB mirror of :func:`drop_duplicated_spans` (1-based list
    subscripts; same (doc_id, pos) canonical-occurrence order)."""
    toks = token_array_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
arr AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= {SPAN_W} THEN
      list_transform(generate_series(1, len(tk) - {SPAN_W - 1}),
                     i -> md5(array_to_string(tk[i:i+{SPAN_W - 1}], ' ')))
    ELSE [] END AS ghs
  FROM t
),
occ AS (SELECT doc_id, unnest(ghs) AS gh, generate_subscripts(ghs, 1) AS pos
        FROM arr),
dup AS (SELECT gh FROM occ GROUP BY gh HAVING count(*) > 1),
ranked AS (
  SELECT o.doc_id, o.pos,
         row_number() OVER (PARTITION BY o.gh ORDER BY o.doc_id, o.pos) AS rn
  FROM occ o JOIN dup USING (gh)
),
rem AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + {SPAN_W - 1})) AS idx
  FROM ranked WHERE rn > 1
),
remset AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY 1),
toksx AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS tpos
          FROM t),
kept AS (
  SELECT tx.doc_id, string_agg(tx.tok, ' ' ORDER BY tx.tpos) AS clean_text
  FROM toksx tx LEFT JOIN rem ON rem.doc_id = tx.doc_id AND rem.idx = tx.tpos
  WHERE rem.idx IS NULL
  GROUP BY tx.doc_id
)
SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text,
       CAST(coalesce(rs.n_removed, 0) AS BIGINT) AS n_removed_tokens
FROM documents d
LEFT JOIN kept k USING (doc_id)
LEFT JOIN remset rs USING (doc_id)
"""


def dup_span_stats_sql() -> str:
    """DuckDB mirror of :func:`dup_span_stats`."""
    toks = token_array_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
arr AS (
  SELECT doc_id, greatest(len(tk) - {SPAN_W - 1}, 0) AS n_windows,
    CASE WHEN len(tk) >= {SPAN_W} THEN
      list_transform(generate_series(1, len(tk) - {SPAN_W - 1}),
                     i -> md5(array_to_string(tk[i:i+{SPAN_W - 1}], ' ')))
    ELSE [] END AS ghs
  FROM t
),
occ AS (SELECT doc_id, unnest(ghs) AS gh, generate_subscripts(ghs, 1) AS pos
        FROM arr),
dup AS (SELECT gh FROM occ GROUP BY gh HAVING count(*) > 1),
ranked AS (
  SELECT o.doc_id,
         row_number() OVER (PARTITION BY o.gh ORDER BY o.doc_id, o.pos) AS rn
  FROM occ o JOIN dup USING (gh)
),
pd AS (SELECT doc_id, count(*) AS n_dup FROM ranked WHERE rn > 1 GROUP BY 1)
SELECT a.doc_id,
  CAST(a.n_windows AS BIGINT) AS n_windows,
  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_windows,
  round(coalesce(CAST(pd.n_dup AS DOUBLE)
                 / nullif(CAST(a.n_windows AS DOUBLE), 0.0), 0.0), 6)
    AS dup_window_fraction
FROM arr a LEFT JOIN pd USING (doc_id)
"""


def fuzzy_dedup_keep_best(docs: DataFrame) -> DataFrame:
    """Quality-aware twin of :func:`fuzzy_dedup_keep`: per near-dup
    cluster keep the LONGEST member (word count; ties -> lowest doc_id)
    instead of the arbitrary min-id one — the representative rule
    curation pipelines actually apply when the near-dups are truncated /
    boilerplate-wrapped variants of the same page and one copy is
    strictly more complete than the rest.

    Scale shape: cluster labels join a (doc_id, n_words) table — two
    8-byte ints per doc, computed map-only in the scan; the row_number
    window partitions on cluster ids (near-dup clusters are tiny), and
    text never moves.

    Columns: doc_id, cluster, n_words, keep."""
    from pyspark.sql.window import Window

    clusters = dedup_clusters(docs)
    scores = docs.select(
        "doc_id",
        F.greatest(F.size(tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n_words"),
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster").orderBy(
            F.desc("n_words"), F.asc("doc_id")
        )
    )
    return (
        clusters.join(scores, "doc_id")
        .withColumn("rn", rn)
        .select(
            "doc_id", "cluster", "n_words", (F.col("rn") == 1).alias("keep")
        )
    )


# Per-source boilerplate census: navigation/footer lines repeat across
# most pages of ONE domain but are globally rare, so the corpus-level
# line_dup_stats misses them on small domains and over-fires on big
# ones. The standard crawl-cleaning rule (trafilatura/jusText family)
# keys line frequency BY SOURCE.
BOILER_MIN_DOCS = 2           # a line must appear in >= 2 of the domain's docs
BOILER_FRAC_PPM = 300_000     # ... and in >= 30% of them (integer ppm)


def boilerplate_by_source(docs: DataFrame) -> DataFrame:
    """Per-document boilerplate-line census, keyed by source: a line is
    boilerplate iff, within the doc's source, it occurs in >=
    BOILER_MIN_DOCS distinct documents AND in >= BOILER_FRAC_PPM
    (integer ppm) of the source's documents. Emits the per-doc count
    and ppm share so a downstream strip/penalty stage can act on it.

    Scale shape: lines explode to 16-byte md5 hashes (text never
    shuffles); the per-(source, hash) doc-frequency agg is the one real
    exchange; the per-source doc-count table is bounded by the number
    of sources and broadcasts; only hashes that PASS the boilerplate
    test flow into the join-back, so a mostly-unique corpus pays the
    second exchange on the boilerplate minority only. Null sources
    group under '' on both engines, dodging null-key join semantics.

    Columns: doc_id, source, n_lines, n_boiler_lines, boiler_ppm."""
    src = F.coalesce(F.col("source"), F.lit("")).alias("src")
    n_lines_expr = F.size(
        F.filter(F.split("text", "\n", -1), lambda x: F.trim(x) != "")
    ).cast("long")
    source_docs = (
        docs.select(src)
        .groupBy("src")
        .agg(F.count("*").alias("n_docs_src"))
    )
    hashed = (
        docs.select(
            "doc_id", src, F.explode(F.split("text", "\n", -1)).alias("line")
        )
        .filter(F.trim(F.col("line")) != "")
        .select(
            "doc_id", "src", F.md5(F.encode(F.col("line"), "UTF-8")).alias("lh")
        )
    )
    boiler = (
        hashed.groupBy("src", "lh")
        .agg(F.countDistinct("doc_id").alias("sdf"))
        .join(F.broadcast(source_docs), "src")
        .filter(
            (F.col("sdf") >= BOILER_MIN_DOCS)
            & (
                F.col("sdf") * F.lit(1_000_000)
                >= F.lit(BOILER_FRAC_PPM) * F.col("n_docs_src")
            )
        )
        .select("src", "lh")
    )
    n_boiler = (
        hashed.join(boiler, ["src", "lh"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler_lines"))
    )
    base = docs.select(
        "doc_id", "source", n_lines_expr.alias("n_lines")
    ).filter(F.col("n_lines") > 0)
    nb = F.coalesce("n_boiler_lines", F.lit(0)).cast("long")
    return base.join(n_boiler, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_lines",
        nb.alias("n_boiler_lines"),
        F.expr(
            "(coalesce(n_boiler_lines, 0) * 1000000) div n_lines"
        ).alias("boiler_ppm"),
    )


def boilerplate_by_source_sql() -> str:
    """DuckDB mirror of :func:`boilerplate_by_source` (same md5 line
    hashing, same integer-ppm comparison — cross-multiplied so neither
    engine divides)."""
    return f"""
WITH lines AS (
  SELECT doc_id, coalesce(source, '') AS src,
         unnest(string_split(text, chr(10))) AS line
  FROM documents
),
nb AS (
  SELECT doc_id, src, md5(line) AS lh FROM lines WHERE trim(line) <> ''
),
sd AS (SELECT coalesce(source, '') AS src, count(*) AS n_docs_src
       FROM documents GROUP BY 1),
boiler AS (
  SELECT src, lh
  FROM (SELECT src, lh, count(DISTINCT doc_id) AS sdf FROM nb GROUP BY 1, 2)
  JOIN sd USING (src)
  WHERE sdf >= {BOILER_MIN_DOCS}
    AND sdf * 1000000 >= {BOILER_FRAC_PPM} * n_docs_src
),
cnt AS (
  SELECT doc_id, count(*)::BIGINT AS n_boiler_lines
  FROM nb JOIN boiler USING (src, lh) GROUP BY doc_id
),
base AS (
  SELECT doc_id, source,
         len(list_filter(string_split(text, chr(10)),
                         l -> trim(l) <> ''))::BIGINT AS n_lines
  FROM documents
)
SELECT b.doc_id, b.source, b.n_lines,
       coalesce(c.n_boiler_lines, 0)::BIGINT AS n_boiler_lines,
       (coalesce(c.n_boiler_lines, 0) * 1000000) // b.n_lines AS boiler_ppm
FROM base b LEFT JOIN cnt c USING (doc_id)
WHERE b.n_lines > 0
"""


def dedup_audit(
    docs: DataFrame,
    threshold: float = 0.2,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """LSH parameter audit: recall/precision of the MinHash banding
    candidates against exact n-gram-Jaccard ground truth — the number
    an operator checks before trusting a banded dedup run at scale
    (bands/rows trade recall against candidate volume; this measures
    the operating point on real data instead of the S-curve formula).
    ``n_hashes``/``n_bands`` select the operating point: the gate runs
    the oracle-pinned k=8 default; tools/lsh_operating_point.py sweeps
    production-k (k=128) and publishes the curve in BENCH/BASELINE.md.

    Input is expected pre-capped by the caller (the exact stage is the
    quadratic one — same contract as ngram_jaccard_pairs); production
    runs this on a sampled shard, then applies the chosen parameters
    corpus-wide.

    Columns: n_truth_pairs, n_candidate_pairs, n_hit, recall_ppm,
    precision_ppm (integer ppm; NULL when the denominator is empty)."""
    truth = ngram_jaccard_pairs(docs, threshold).select(
        "d1", "d2", F.lit(1).alias("_t")
    )
    cand = minhash_candidate_pairs(
        docs, n_hashes=n_hashes, n_bands=n_bands
    ).select("d1", "d2", F.lit(1).alias("_c"))
    j = truth.join(cand, ["d1", "d2"], "full_outer")
    hit = "CASE WHEN _t IS NOT NULL AND _c IS NOT NULL THEN 1 ELSE 0 END"
    return j.agg(
        F.count("_t").alias("n_truth_pairs"),
        F.count("_c").alias("n_candidate_pairs"),
        F.expr(f"sum({hit})").cast("long").alias("n_hit"),
        F.expr(f"sum({hit}) * 1000000 div nullif(count(_t), 0)")
        .cast("long")
        .alias("recall_ppm"),
        F.expr(f"sum({hit}) * 1000000 div nullif(count(_c), 0)")
        .cast("long")
        .alias("precision_ppm"),
    )


def minhash_bands_cte_sql(n_hashes: int = N_MINHASH, n_bands: int = N_BANDS) -> str:
    """DuckDB CTE prelude replaying signatures + banding at ANY
    operating point (same generated coefficient family as
    :func:`_minhash_coeffs`, same md5 base) — ends in
    bands(doc_id, band, bucket). Every MinHash oracle builds on it: the
    k=8 gate operating point (the defaults) and the PRODUCTION one
    (k=128 x 16 bands), so the latter is gate-verifiable too, not just
    benchmarked."""
    coeff_a, coeff_b = _minhash_coeffs(n_hashes)
    sh = shingles_sql()
    mh_cols = ",\n    ".join(
        f"list_min(list_transform(shingles, s -> "
        f"({coeff_a[k]} * {md5_int_sql('s', 7)} "
        f"+ {coeff_b[k]}) % {MINHASH_M})) AS mh{k}"
        for k in range(n_hashes)
    )
    rpb = n_hashes // n_bands
    band_selects = []
    for b in range(n_bands):
        parts = " || '|' || ".join(
            f"coalesce(CAST(mh{b * rpb + i} AS VARCHAR), '')"
            for i in range(rpb)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM sig "
            "WHERE mh0 IS NOT NULL"
        )
    return (
        f"WITH sh AS (SELECT doc_id, {sh} AS shingles FROM documents),\n"
        f"sig AS (SELECT doc_id, {mh_cols} FROM sh),\n"
        f"bands AS ({' UNION ALL '.join(band_selects)})"
    )


def minhash_candidate_pairs_sql(
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> str:
    return (
        f"{minhash_bands_cte_sql(n_hashes, n_bands)} "
        "SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a "
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket "
        "AND a.doc_id < b.doc_id"
    )


# ----------------------------------------------------------------------
# Connected components via alternating large-star / small-star rounds
# (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
# Components in MapReduce and Beyond", SoCC 2014). The round count is
# O(log n), not O(graph diameter): chain-shaped duplicate graphs
# (templated page series A~B~C~... where only adjacent pairs share an
# LSH bucket) contract geometrically instead of one hop per round.
# ----------------------------------------------------------------------
def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over canonical (lo < hi) edges: every node u
    re-points its STRICTLY LARGER neighbors at m = min(N(u) + {u}).
    Each input edge is emitted exactly once (from its smaller endpoint),
    so the edge count never grows; connectivity is preserved (Kiveris
    2014, Lemma 1)."""
    nbrs = edges.select(
        F.col("lo").alias("u"), F.col("hi").alias("v")
    ).union(edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    # v > u >= m, so (m, v) is already canonical and never a self-loop
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node u re-points its smaller-or-equal
    neighborhood (which under the canonical orientation is exactly its
    `lo` partners) plus itself at m = min of that neighborhood."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    joined = edges.join(mins, "hi")
    star_center = joined.select(
        F.col("m").alias("lo"), F.col("hi")
    ).distinct()
    re_pointed = (
        joined.filter(F.col("lo") != F.col("m"))
        .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
        .distinct()
    )
    return star_center.union(re_pointed).distinct()


def star_components(
    edges: DataFrame, max_iter: int = 20
) -> tuple[DataFrame, int]:
    """Run alternating large-star/small-star rounds over a canonical
    (lo < hi) edge list to the fixed point; returns (star_edges,
    rounds_used). At the fixed point the graph is a disjoint union of
    stars centered at component minima (SoCC 2014, Thm 2). The
    fixed-point probe is one (count, order-free checksum) aggregate per
    round — two longs to the driver; xxhash64 is engine-internal but
    only gates the STOP decision, never output values, so cross-engine
    oracle parity is unaffected. localCheckpoint truncates lineage so
    the plan stays round-independent. Raises RuntimeError when
    ``max_iter`` rounds pass without the fixed point: a partial star
    graph would label one component as several clusters."""
    edges = edges.localCheckpoint(eager=True)
    prev = None
    for rounds in range(1, max_iter + 1):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # bit_xor, not sum: order-free AND overflow-free under ANSI mode
        # (a long sum of 64-bit hashes overflows and throws in Spark 4)
        row = edges.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("lo", "hi")), F.lit(0)).alias(
                "ck"
            ),
        ).collect()[0]
        cur = (row.n, row.ck)
        if cur == prev:
            return edges, rounds
        prev = cur
    raise RuntimeError(
        f"star_components: no fixed point after {max_iter} rounds"
    )
