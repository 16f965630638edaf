"""End-to-end golden test (SURVEY.md §5.2 item 4): full pipeline on the
deterministic pages corpus vs the pandas oracle — keep/drop F1 >= 0.99
(target from BASELINE.json; we assert exact agreement), scrubbed text
byte-identical, scores identical."""

import json

import pandas as pd

from metadata_quality_stack_spark.oracle.scoring import score_pandas
from metadata_quality_stack_spark.plans.pipeline import partition_metrics, quality_pipeline
from metadata_quality_stack_spark.sources.pages import extract_text, generate_pages

N_ROWS = 400


def _spark_result(spark, pdf: pd.DataFrame) -> pd.DataFrame:
    df = spark.createDataFrame(pdf.drop(columns=["row_class"]))
    res = quality_pipeline(df, id_cols=("url",), lang_col="lang")
    return res.toPandas().sort_values("url").reset_index(drop=True)


def test_keep_drop_f1_and_scrub(spark):
    pdf = generate_pages(N_ROWS, seed=7)
    got = _spark_result(spark, pdf)
    exp = score_pandas(pdf, lang_col="lang")
    exp["url"] = pdf["url"]
    exp = exp.sort_values("url").reset_index(drop=True)

    # keep/drop F1 (assert perfect agreement; target is >= 0.99)
    tp = int(((got["keep"]) & (exp["keep"])).sum())
    fp = int(((got["keep"]) & (~exp["keep"])).sum())
    fn = int(((~got["keep"]) & (exp["keep"])).sum())
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1}"
    assert (got["keep"] == exp["keep"]).all()

    # byte-identical scrubbed text
    assert (got["scrubbed_text"] == exp["scrubbed_text"]).all()
    # exact score parity
    for col in ["total_score", "rating", "ppl", "lang_pred"]:
        assert (got[col] == exp[col]).all(), col
    assert [list(x) for x in got["drop_reasons"]] == [
        list(x) for x in exp["drop_reasons"]
    ]
    # corpus actually exercises both branches
    assert 0.2 < exp["keep"].mean() < 0.8
    assert (exp["scrub_count"] > 0).any()


def test_row_classes_behave(spark):
    pdf = generate_pages(N_ROWS, seed=7)
    exp = score_pandas(pdf, lang_col="lang")
    exp["row_class"] = pdf["row_class"].values
    by = exp.groupby("row_class")["keep"].mean()
    assert by["clean_en"] == 1.0
    assert by["pii"] == 1.0
    for cls in ["gibberish", "boilerplate", "short", "symbolic", "stuffing", "mislabeled"]:
        assert by[cls] == 0.0, f"{cls}: {by[cls]}"
    dr = exp.explode("drop_reasons").groupby("row_class")["drop_reasons"].apply(
        lambda s: set(s.dropna())
    )
    assert "perplexity_ok" in dr["gibberish"]
    assert "line_uniqueness" in dr["boilerplate"]
    assert "word_count" in dr["short"]
    assert "symbol_ratio" in dr["symbolic"]
    assert "stopword_density" in dr["stuffing"]
    assert "langid_match" in dr["mislabeled"]
    # PII docs are kept but scrubbed
    pii = exp[exp["row_class"] == "pii"]
    assert (pii["scrub_count"] > 0).all()


def test_html_extraction_byte_identical():
    pdf = generate_pages(80, seed=11)
    for _, r in pdf.iterrows():
        assert extract_text(r["html"]) == r["text"]


def _four_groupby_metrics(result):
    """The sidecar as four separate groupBy jobs (the formulation
    partition_metrics replaced), in its JSON-ready shape: the reference."""
    from pyspark.sql import functions as F

    def hist(df, key):
        rows = df.groupBy(key).agg(F.count("*").alias("n_docs")).collect()
        rows = sorted(rows, key=lambda r: (r[key] is not None, r[key]))
        return [{key: r[key], "n_docs": r["n_docs"]} for r in rows]

    totals = result.agg(
        F.sum("scrub_email_count").alias("emails_scrubbed"),
        F.sum("scrub_ip_count").alias("ips_scrubbed"),
        F.sum("scrub_phone_count").alias("phones_scrubbed"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("docs_kept"),
        F.count("*").alias("docs_total"),
    ).collect()[0]
    return {
        "lang_histogram": hist(result, "lang_pred"),
        "rating_histogram": hist(result, "rating"),
        "drop_reasons": hist(
            result.select(F.explode("drop_reasons").alias("reason")), "reason"
        ),
        "scrub_totals": totals.asDict(),
    }


def test_partition_metrics(spark):
    pdf = generate_pages(200, seed=7).drop(columns=["row_class"])
    empty = pdf.iloc[[0]].assign(url="https://empty.example.org/0", text="")
    df = spark.createDataFrame(pd.concat([pdf, empty], ignore_index=True))
    res = quality_pipeline(df).localCheckpoint()
    assert res.filter("size(drop_reasons) = 0").count() > 0
    assert res.filter("scrubbed_text = ''").count() == 1

    sc = spark.sparkContext
    sc.setJobGroup("partition_metrics_test", "partition_metrics")
    try:
        m = partition_metrics(res)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("partition_metrics_test")
    assert 1 <= len(jobs) <= 2, jobs
    assert json.loads(json.dumps(m)) == m
    assert m == _four_groupby_metrics(res)
    totals = m["scrub_totals"]
    assert totals["docs_total"] == 201
    assert 0 < totals["docs_kept"] < 201
    assert totals["emails_scrubbed"] > 0
    assert "en" in {r["lang_pred"] for r in m["lang_histogram"]}
    assert "word_count" in {r["reason"] for r in m["drop_reasons"]}
    assert partition_metrics(None) == {
        "lang_histogram": [],
        "rating_histogram": [],
        "drop_reasons": [],
        "scrub_totals": dict.fromkeys(totals, 0),
    }
