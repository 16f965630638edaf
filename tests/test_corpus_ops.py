"""Round-2 training-pipeline additions: decontamination, vocabulary
census (term_stats), SemDeDup-style semantic dedup."""

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators import (
    contamination,
    sampling,
    similarity,
    textops,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_shared_shingles(spark):
    # doc 0 is eval (0 % 41 == 0); doc 1 shares a 3-gram, doc 2 doesn't
    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma delta"),
            (1, "x alpha beta gamma y"),
            (2, "one two three four five"),
            (3, "no overlap here at all"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in contamination.decontaminate(docs).collect()
    }
    assert set(out) == {1}
    # doc 1 shingles: {x alpha beta, alpha beta gamma, beta gamma y} -> 1 shared
    assert out[1]["n_shingles"] == 3
    assert out[1]["n_shared"] == 1
    assert out[1]["contamination_ratio"] == pytest.approx(1 / 3, abs=1e-6)


def test_decontaminate_eval_docs_and_short_docs_excluded(spark):
    docs = _docs(
        spark,
        [
            (0, "a b c d"),
            (41, "a b c"),  # eval too (41 % 41 == 0)
            (2, "a b"),  # < 3 tokens: no shingles, never contaminated
            (3, "b c d"),  # shares "b c d" with doc 0
        ],
    )
    out = {r["doc_id"] for r in contamination.decontaminate(docs).collect()}
    assert out == {3}


def test_decontaminate_bloom_superset_of_exact_no_joins(spark):
    """The bloom pre-gate may only OVERCOUNT: every exact hit must
    appear with n_maybe >= n_shared (a bloom negative is definitive,
    so a false negative would drop real contamination), and the probe
    side must carry NO join at all — the bitmap rides the plan as an
    array literal."""
    rows = [(i, f"common one two w{i} w{i + 1} common one two") for i in range(1, 60)]
    rows += [(0, "common one two eval holdout text"), (41, "zeta eta theta iota")]
    docs = _docs(spark, rows)
    exact = {
        r["doc_id"]: r["n_shared"]
        for r in contamination.decontaminate(docs).collect()
    }
    assert exact, "fixture must actually contaminate"
    bloomed = contamination.decontaminate_bloom(docs)
    got = {r["doc_id"]: r["n_maybe"] for r in bloomed.collect()}
    for doc_id, n_shared in exact.items():
        assert got.get(doc_id, 0) >= n_shared, doc_id
    plan = bloomed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # map-only probe + one doc_id agg


def test_decontaminate_eval_side_is_broadcast(spark):
    docs = _docs(spark, [(i, f"w{i} w{i + 1} w{i + 2} w{i + 3}") for i in range(100)])
    plan = contamination.decontaminate(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_term_stats_counts_and_idf(spark):
    import math

    docs = _docs(
        spark,
        [
            (1, "The cat sat"),
            (2, "the DOG sat sat"),
            (3, "bird"),
        ],
    )
    rows = {r["term"]: r.asDict() for r in textops.term_stats(docs).collect()}
    assert rows["sat"]["tf"] == 3 and rows["sat"]["df"] == 2
    assert rows["the"]["tf"] == 2 and rows["the"]["df"] == 2  # case-folded
    assert rows["bird"]["tf"] == 1 and rows["bird"]["df"] == 1
    assert rows["the"]["idf"] == pytest.approx(round(math.log(4 / 3), 6))
    # top-by-tf ordering with term tiebreak
    ordered = [r["term"] for r in textops.term_stats(docs, limit=2).collect()]
    assert ordered == ["sat", "the"]


def test_rolling_fingerprint_normalization(spark):
    # case, whitespace runs and edge whitespace all normalise away
    rows = [(0, "Hello   World"), (1, "hello\nworld"), (2, " hello world ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = [r.rolling_hash for r in
              textops.rolling_fingerprint(df).orderBy("doc_id").collect()]
    assert hashes[0] == hashes[1] == hashes[2]


def test_semantic_dedup_keeps_lowest_id(spark):
    # v0/v1 identical direction (cos=1); v2 orthogonal-ish
    dim = similarity.DIM
    e = [1.0] + [0.0] * (dim - 1)
    o = [0.0, 1.0] + [0.0] * (dim - 2)
    emb = spark.createDataFrame(
        [(0, e, "a"), (1, e, "a"), (2, o, "b")],
        "vec_id long, embedding array<float>, label string",
    )
    out = {r["vec_id"]: r["keep"] for r in similarity.semantic_dedup(emb, 0.9).collect()}
    assert out == {0: True, 1: False, 2: True}


def test_cosine_zero_vector_is_null_not_ansi_error(spark):
    """Spark 4 ANSI mode raises on /0; a zero embedding must yield NULL
    cosine (DuckDB's native x/0 semantics), never similar, never a crash."""
    dim = similarity.DIM
    emb = spark.createDataFrame(
        [(0, [0.0] * dim, "z"), (1, [1.0] * dim, "y"), (2, [1.0] * dim, "y")],
        "vec_id long, embedding array<float>, label string",
    )
    out = {r["vec_id"]: r["keep"] for r in similarity.semantic_dedup(emb).collect()}
    assert out == {0: True, 1: True, 2: False}
    pairs = similarity.embedding_near_dup_pairs(emb, 0.0).collect()
    assert {(r["v1"], r["v2"]) for r in pairs} == {(1, 2)}


def test_semantic_dedup_no_allpairs_shuffle(spark):
    """The pair stage must join on the bucket key, not cross-join."""
    dim = similarity.DIM
    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * dim, "x") for i in range(50)],
        "vec_id long, embedding array<float>, label string",
    )
    plan = (
        similarity.semantic_dedup(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_windows_and_edges(spark):
    from metadata_quality_stack_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, ""), (3, None), (4, "xy")],
        "doc_id long, text string",
    )
    rows = sampling.chunk_documents(docs, chunk_chars=4, overlap=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1,4,7,10 (step 3) -> abcd, defg, ghij, j
    chunks = sorted((r["chunk_idx"], r["chunk_start"], r["chunk_text"]) for r in by_doc[1])
    assert chunks == [(0, 1, "abcd"), (1, 4, "defg"), (2, 7, "ghij"), (3, 10, "j")]
    assert by_doc[1][0]["n_chunk_chars"] == 4
    # empty and NULL texts: no chunks; short text: one chunk
    assert 2 not in by_doc and 3 not in by_doc
    assert [r["chunk_text"] for r in by_doc[4]] == ["xy"]


def test_chunk_documents_rejects_bad_overlap(spark):
    from metadata_quality_stack_spark.operators import sampling

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        sampling.chunk_documents(docs, chunk_chars=4, overlap=4)


def test_lang_mix_weights_uniform_target(spark):
    from metadata_quality_stack_spark.operators import sampling

    docs = spark.createDataFrame(
        [("en",)] * 3 + [("es",)], "lang string"
    )
    out = {r["lang"]: r.asDict() for r in sampling.lang_mix_weights(docs).collect()}
    assert out["en"]["actual_share"] == 0.75
    assert out["en"]["target_share"] == 0.5
    assert out["en"]["weight"] == pytest.approx(2 / 3, abs=1e-6)  # downsample
    assert out["es"]["weight"] == 2.0  # upsample


def test_pack_chunks_offsets_and_bins(spark):
    from metadata_quality_stack_spark.operators import sampling

    # two docs in the same shard (0 and 8 with n_shards=8)
    chunks = spark.createDataFrame(
        [
            (0, 0, "aaaa", 4),
            (0, 1, "bbb", 3),
            (8, 0, "cccccc", 6),
            (1, 0, "dd", 2),  # different shard, independent stream
        ],
        "doc_id long, chunk_idx long, chunk_text string, n_chunk_chars long",
    )
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["shard"], r["start_offset"], r["pack_bin"])
        for r in sampling.pack_chunks(chunks, context_chars=5).collect()
    }
    assert out[(0, 0)] == (0, 0, 0)
    assert out[(0, 1)] == (0, 4, 0)  # starts at 4, still window 0
    assert out[(8, 0)] == (0, 7, 1)  # starts at 7 -> window 1
    assert out[(1, 0)] == (1, 0, 0)  # own shard stream restarts at 0


def test_chunk_documents_matches_python_reference(spark):
    """One Spark job over a battery of boundary/unicode texts, checked
    against a direct Python re-statement of the window semantics
    (1-based substring, step = chunk - overlap, last chunk short)."""
    from metadata_quality_stack_spark.operators import sampling

    chunk, ov = 7, 3
    texts = [
        "a" * 7,            # exactly one window
        "b" * 8,            # one full + one short
        "c" * 4,            # single short window
        "",                 # no chunks
        "déjà vu — ünïcode £10 ☃ snow",  # multibyte chars counted as chars
        "x" * (7 + 4),      # second window exactly full
        " \t\n ",           # whitespace-only still chunks (chars exist)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {}
    for r in sampling.chunk_documents(docs, chunk, ov).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk_text"])
        )
    step = chunk - ov
    for i, t in enumerate(texts):
        expect = [
            (idx, 1 + idx * step, t[idx * step : idx * step + chunk])
            for idx in range((len(t) + step - 1) // step if t else 0)
        ]
        assert sorted(got.get(i, [])) == expect, f"text #{i}"


def test_rebalance_corpus_moves_mix_toward_uniform(spark):
    from metadata_quality_stack_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "en" if i < 90 else "es") for i in range(100)],
        "doc_id long, lang string",
    )
    out = sampling.rebalance_corpus(docs)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # en weight = 50/90 ~ 0.5556 -> ~50 kept; es weight = 5.0 -> exactly 50
    assert counts["es"] == 50
    assert 40 <= counts["en"] <= 65  # md5-bucket fraction, deterministic
    # determinism: same input -> identical multiset
    again = {r["lang"]: r["n"] for r in sampling.rebalance_corpus(docs).groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == again
    # integer upsampling emits distinct copy indices
    es_copies = out.filter(F.col("lang") == "es").groupBy("doc_id").agg(F.count("*").alias("c")).collect()
    assert all(r["c"] == 5 for r in es_copies)


def test_train_val_test_split_is_content_keyed(spark):
    from metadata_quality_stack_spark.operators import sampling

    rows = [
        (i, f"s{i % 3}", "en", f"document body number {i} with words") for i in range(200)
    ]
    # docs 500/501 are byte-identical duplicates with different ids/sources
    rows += [(500, "sA", "en", "shared duplicate body"), (501, "sB", "es", "shared duplicate body")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")
    out = sampling.train_val_test_split(docs).collect()
    assert len(out) == 202
    by_id = {r.doc_id: r for r in out}
    # leakage guard: identical text -> identical bucket -> identical split
    assert by_id[500].bucket == by_id[501].bucket
    assert by_id[500].split == by_id[501].split
    for r in out:
        assert 0 <= r.bucket < sampling.SAMPLE_BUCKETS
        assert r.split == (
            "test" if r.bucket < 5 else "val" if r.bucket < 10 else "train"
        )
    # with 200 distinct texts all three splits should be populated
    splits = {r.split for r in out}
    assert splits == {"train", "val", "test"}


def test_train_val_test_split_deterministic_across_runs(spark):
    from metadata_quality_stack_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "s", "en", f"text {i}") for i in range(50)],
        "doc_id long, source string, lang string, text string",
    )
    a = sorted((r.doc_id, r.split) for r in sampling.train_val_test_split(docs).collect())
    b = sorted((r.doc_id, r.split) for r in sampling.train_val_test_split(docs).collect())
    assert a == b


def test_lang_mismatch_by_source_null_safe(spark):
    docs = spark.createDataFrame(
        [
            # declared en, English stopwords -> match
            (1, "sA", "en", "the cat and the dog are in the house with them"),
            # declared es, English text -> mismatch
            (2, "sA", "es", "the cat and the dog are in the house with them"),
            # NULL declared lang -> counts as mismatch (null-safe)
            (3, "sB", None, "the cat and the dog are in the house with them"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    out = {r.source: r.asDict() for r in textops.lang_mismatch_by_source(docs).collect()}
    assert out["sA"]["n_docs"] == 2 and out["sA"]["n_mismatch"] == 1
    assert out["sA"]["mismatch_rate"] == 0.5
    assert out["sB"]["n_mismatch"] == 1 and out["sB"]["mismatch_rate"] == 1.0


def test_embedding_qc_flags_hostile_vectors(spark):
    from metadata_quality_stack_spark.operators import similarity

    rows = [
        (0, [3.0, 4.0], 0),            # norm 5
        (1, [0.0, 0.0], 0),            # zero vector
        (2, [float("nan"), 1.0], 0),   # NaN component
        (3, [1.0, 2.0, 2.0], 0),       # wrong dim (3 vs 2)
    ]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r.asDict() for r in similarity.embedding_qc(embs).collect()}
    assert out[0]["l2_norm"] == 5.0 and not out[0]["is_zero"] and not out[0]["has_nan"]
    assert out[1]["is_zero"] and out[1]["l2_norm"] == 0.0
    assert out[2]["has_nan"]
    assert out[3]["dim"] == 3 and out[3]["l2_norm"] == 3.0


def test_cluster_size_histogram_counts(spark):
    from metadata_quality_stack_spark.operators import dedup

    dup = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, dup), (2, dup), (3, dup),
         (4, "pack my box with five dozen liquor jugs before noon today"),
         (5, "short")],
        "doc_id long, text string",
    )
    out = {r.cluster_size: r.n_clusters for r in dedup.cluster_size_histogram(docs).collect()}
    # one cluster of 3 dups; doc 4 and short doc 5 are singletons
    assert out == {3: 1, 1: 2}


def test_corpus_token_budget_matches_split_and_counts(spark):
    from metadata_quality_stack_spark.operators import sampling

    docs = spark.createDataFrame(
        [
            (i, "s", ["en", "es"][i % 2], f"one two three plus text {i}")
            for i in range(100)
        ]
        + [(1000, "s", "en", ""), (1001, "s", "en", "   ")],  # zero tokens
        "doc_id long, source string, lang string, text string",
    )
    budget = sampling.corpus_token_budget(docs).collect()
    splits = sampling.train_val_test_split(docs).collect()
    # totals reconcile with the per-doc assignment
    assert sum(r.n_docs for r in budget) == 102
    by_key = {(r.split, r.lang): r for r in budget}
    from collections import Counter

    expected = Counter((r.split, r.lang) for r in splits)
    assert {k: v.n_docs for k, v in by_key.items()} == dict(expected)
    # each counted doc contributes 6 tokens; blank docs contribute 0
    total_tokens = sum(r.n_tokens for r in budget)
    assert total_tokens == 100 * 6


def test_split_bucket_matches_pure_python_md5(spark):
    """The Spark content-hash bucket must equal the engine-neutral python
    md5 formula for hostile inputs (unicode, whitespace, empty) — this is
    what lets a driver-side tool recompute split membership without
    Spark."""
    from metadata_quality_stack_spark.operators import sampling
    from tests.test_properties import py_split_bucket

    texts = [
        "", " ", "\n\t", "plain ascii", "acentuación española ñ",
        "emoji 🎉 mix", "日本語のテキスト", "a" * 5000,
        "null\x00byte", "trailing space ", " leading", "CRLF\r\nline",
    ]
    docs = spark.createDataFrame(
        [(i, "s", "en", t) for i, t in enumerate(texts)],
        "doc_id long, source string, lang string, text string",
    )
    out = {r.doc_id: r.bucket for r in sampling.train_val_test_split(docs).collect()}
    for i, t in enumerate(texts):
        assert out[i] == py_split_bucket(t), repr(t)


def test_shuffle_shards_deterministic_cover_and_order(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en", "s") for i in range(200)],
        "doc_id long, text string, lang string, source string",
    )
    a = sampling.shuffle_shards(docs).collect()
    b = sampling.shuffle_shards(docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every doc exactly once; positions are 1..n contiguous per shard
    assert sorted(r.doc_id for r in a) == list(range(200))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(sampling.N_SHUFFLE_SHARDS))
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        keys = [(r.shuffle_key, r.doc_id) for r in rows]
        assert keys == sorted(keys)
    # the shuffle breaks id order: adjacent ids land in different spots
    first_shard = {r.doc_id: r.shard for r in a}
    assert len({first_shard[i] for i in range(8)}) > 1


def test_shuffle_shards_single_exchange(spark, capsys):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sampling.shuffle_shards(docs).explain("formatted")
    plan = capsys.readouterr().out
    assert plan.count("Exchange (") == 1


def test_temperature_mix_shares(spark):
    from metadata_quality_stack_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "s_big" if i < 900 else "s_small", 100) for i in range(1000)],
        "doc_id long, source string, n_chars long",
    )
    rows = {r["source"]: r for r in sampling.temperature_mix(docs).collect()}
    big, small = rows["s_big"], rows["s_small"]
    # sqrt damping: the 9x-bigger source gets only 3x the share
    assert big["n_docs"] == 900 and small["n_docs"] == 100
    assert abs(big["p_ppm"] / small["p_ppm"] - 3.0) < 0.01
    # shares are ppm and sum to ~1e6 (floor division loses < n_sources)
    total = big["p_ppm"] + small["p_ppm"]
    assert 1_000_000 - 2 <= total <= 1_000_000
    # exactness pin vs python: same floor(sqrt(size)*1e6) micros
    import math

    for r in rows.values():
        assert r["w_micros"] == math.floor(
            math.sqrt(r["size_units"]) * 1_000_000.0
        )


def test_lang_stopword_density_hostile_and_semantics(spark):
    from metadata_quality_stack_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog in the house", "en"),
            (1, "el perro y la casa de que", "es"),
            (2, "the cat and the dog", "xx"),   # unknown lang
            (3, "", "en"),                       # empty text
            (4, "zzz yyy xxx", "en"),            # zero stopwords
            (5, "the the the the", "en"),        # 1 distinct stopword
        ],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r for r in textops.lang_stopword_density(docs).collect()}
    assert got[0].keep and got[0].sw_hits == 5  # the x3 + and + in
    assert got[1].keep
    assert got[2].sw_hits is None and got[2].keep is None
    assert got[3].n_words == 0 and not got[3].keep
    assert got[4].sw_hits == 0 and not got[4].keep
    assert got[5].sw_distinct == 1 and not got[5].keep


def test_length_outlier_trim_cuts_tails(spark):
    from metadata_quality_stack_spark.operators import sampling

    rows = [(i, "en", 100 + i) for i in range(200)]        # 100..299
    rows += [(1000, "en", 1), (1001, "en", 100000)]        # outliers
    rows += [(2000, "zh", 50)]                             # singleton group
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    got = {r.doc_id: r.keep for r in sampling.length_outlier_trim(docs).collect()}
    assert not got[1000] and not got[1001]        # tails trimmed
    assert got[2000]                              # n=1 group keeps its doc
    kept = sum(1 for v in got.values() if v)
    assert kept >= 198                            # ~2% trimmed at most


def test_quality_by_crawl_day_partitions_corpus(spark):
    from metadata_quality_stack_spark.operators import analytics

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ts = "1717200000 + (doc_id % 13) * 86400 + (doc_id % 7) * 3600"
    out = analytics.quality_by_crawl_day(docs, ts).collect()
    assert sum(r.n_docs for r in out) == docs.count()
    for r in out:
        assert 0 <= r.keep_ppm <= 1_000_000
        assert r.score_min <= r.score_avg_micros / 1e6 <= r.score_max


def test_curation_recipe_end_to_end(spark):
    """The full recipe (quality -> exact dedup -> fuzzy dedup ->
    decontaminate -> split) on a corpus engineered to exercise EVERY
    stage: a low-quality doc, exact duplicates, near-duplicates, an
    eval doc plus a contaminated train doc, and hostile rows."""
    from metadata_quality_stack_spark.operators.analytics import DOC_META
    from metadata_quality_stack_spark.plans.curate import curation_recipe

    prose = (
        "The committee met on Tuesday to review the annual budget report "
        "and most members agreed that spending should remain stable for "
        "the next fiscal year according to the published draft figures."
    )
    near = prose.replace("Tuesday", "Wednesday")
    eval_doc = (
        "Benchmark question: what is the capital of France? The answer "
        "is Paris, which has been the capital city for many centuries."
    )
    contaminated = eval_doc + " Extra trailing sentence to change the hash."
    rows = [
        # doc_id % 41 == 0 -> held-out eval member (excluded at the end)
        (0, eval_doc, "en", "s0", len(eval_doc)),
        (1, prose, "en", "s1", len(prose)),
        (2, prose, "en", "s1", len(prose)),          # exact dup of 1
        (3, near, "en", "s1", len(near)),            # near dup of 1
        (4, contaminated, "en", "s2", len(contaminated)),
        (5, "", "en", "s3", 0),                      # hostile: empty
        (6, None, "en", "s3", 0),                    # hostile: null text
        (7, "word " * 60, "en", "s4", 300),          # repetitive junk
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation_recipe(docs, meta_cols=DOC_META)
    got = {r.doc_id: r for r in out.collect()}
    assert 1 in got                      # canonical survivor
    assert 2 not in got                  # exact dup dropped
    assert 3 not in got                  # near dup dropped (LSH cluster)
    assert 0 not in got                  # eval member excluded
    assert 4 not in got                  # contaminated dropped
    assert 5 not in got and 6 not in got  # hostile rows never admitted
    for r in got.values():
        assert r.split in ("train", "val", "test")
        assert 0 <= r.bucket < 100


def test_corpus_datasheet_single_scan_and_values(spark):
    """Datasheet numbers on a hand-checkable corpus; plan = one scan of
    the input (the three exact distinct aggregates share one Expand)."""
    from metadata_quality_stack_spark.operators.analytics import corpus_datasheet
    from tests.test_plan_shapes import plan_str

    rows = [
        (0, "good text with several proper words here", "en", "s1", 40),
        (1, "good text with several proper words here", "en", "s2", 40),  # dup
        (2, "another fine document body entirely", "de", "s1", 35),
        (3, None, "en", "s1", 0),  # hostile
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = corpus_datasheet(docs).collect()[0]
    assert r.n_docs == 4
    assert r.n_unique_docs == 2  # null fp not counted, dup collapses
    assert r.dup_ppm == (4 - 2) * 1_000_000 // 4
    assert r.total_tokens == 7 + 7 + 5
    assert r.n_sources == 2 and r.n_langs == 2
    assert 0 <= r.keep_ppm <= 1_000_000

    plan = plan_str(corpus_datasheet(docs), "simple")
    assert plan.count("Scan ") <= 1
    assert "Expand" in plan


def test_quality_weighted_sample_membership_and_determinism(spark):
    # hand-built scored frame: score 0 can never be kept (bucket*m < 0
    # is false for every bucket), score == max is always kept (bucket <
    # SAMPLE_BUCKETS holds for all buckets), and a mid score keeps the
    # doc iff its md5 bucket clears the cross-multiplied line
    import hashlib

    from metadata_quality_stack_spark import config

    rows = [
        (1, 0, "Bad"),
        (2, config.MAX_SCORE, "Excellent"),
        (3, 200, "Sufficient"),
        (4, 200, "Sufficient"),
        (5, 405, "Excellent"),
    ]
    scored = spark.createDataFrame(
        rows, "doc_id long, total_score int, rating string"
    )
    out = {
        r["doc_id"]
        for r in sampling.quality_weighted_sample(scored).collect()
    }
    assert 1 not in out  # p = 0
    assert {2, 5} <= out  # p = 1

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16) % 100

    for d in (3, 4):
        expect = bucket(d) * config.MAX_SCORE < 200 * 100
        assert (d in out) == expect
    # deterministic: a second run selects the identical set
    out2 = {
        r["doc_id"]
        for r in sampling.quality_weighted_sample(scored).collect()
    }
    assert out == out2


def test_quality_weighted_sample_rate_tracks_score(spark):
    # over many ids at a fixed score s, the realized keep rate must sit
    # near s / MAX_SCORE (the md5 bucket is uniform); exactness is not
    # the claim — proportionality is
    from metadata_quality_stack_spark import config

    n = 2000
    score = 300
    scored = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(score).cast("int").alias("total_score"),
        F.lit("Good").alias("rating"),
    )
    kept = sampling.quality_weighted_sample(scored).count()
    p = score / config.MAX_SCORE
    assert abs(kept / n - p) < 0.05


def test_lix_readability_exact_values_and_hostile_rows(spark):
    from metadata_quality_stack_spark.operators.textops import lix_readability

    docs = spark.createDataFrame(
        [
            # 6 words, 2 sentences, 1 long word (7 chars): LIX =
            # 6/2 + 100*(1/6) -> 3_000_000 + 16_666_666 = 19_666_666
            (0, "the quick magical. fox jumps high!"),
            (1, ""),  # empty: all zeros
            (2, None),  # null text: all zeros
            (3, "word " * 3),  # no sentence marks: div by greatest(0,1)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in lix_readability(docs).collect()}
    assert out[0]["n_words"] == 6
    assert out[0]["n_sentences"] == 2
    assert out[0]["n_long_words"] == 1
    assert out[0]["lix_micro"] == 3_000_000 + 16_666_666
    for d in (1, 2):
        assert out[d]["n_words"] == 0 and out[d]["lix_micro"] == 0
    assert out[3]["n_sentences"] == 0
    assert out[3]["lix_micro"] == 3_000_000  # 3 words / max(0,1) sentences


def test_eval_set_stratified_covers_minority_strata(spark):
    # 40 docs in lang 'a', only 2 in lang 'b': a plain 10% sample would
    # usually miss 'b' entirely; the stratified builder must return
    # exactly N from 'a' and ALL of 'b', deterministically
    rows = [(i, "a") for i in range(40)] + [(100, "b"), (101, "b")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.eval_set_stratified(docs, n_per_stratum=5).collect()
    by = {}
    for r in out:
        by.setdefault(r["strata"], set()).add(r["doc_id"])
    assert len(by["a"]) == 5
    assert by["b"] == {100, 101}
    ranks = sorted(
        r["rank_in_stratum"] for r in out if r["strata"] == "a"
    )
    assert ranks == [1, 2, 3, 4, 5]
    # deterministic across runs
    out2 = sampling.eval_set_stratified(docs, n_per_stratum=5).collect()
    assert {(r["strata"], r["doc_id"]) for r in out} == {
        (r["strata"], r["doc_id"]) for r in out2
    }
