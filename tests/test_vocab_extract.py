"""Vocabulary broadcast-membership (SURVEY §2.3 J1/J2, §2.1 S3 quirk) and
the Spark-native html->text extractor (byte-identical invariant)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metadata_quality_stack_spark.operators import vocab
from metadata_quality_stack_spark.sources.pages import (
    extract_text,
    extract_text_column,
    generate_pages,
    render_html,
)


# ------------------------------------------------------------------ vocab
def test_load_vocab_header_swallow(tmp_path):
    p = tmp_path / "access_rights.csv"
    p.write_text("CONFIDENTIAL,secret\nPUBLIC,open\nRESTRICTED,limited\n")
    # reference quirk: first row consumed as "header" (validators.py:402)
    assert vocab.load_vocab(str(p)) == ["PUBLIC", "RESTRICTED"]
    assert vocab.load_vocab(str(p), emulate_header_swallow=False) == [
        "CONFIDENTIAL", "PUBLIC", "RESTRICTED",
    ]
    assert vocab.load_vocab(str(p), column=1) == ["open", "limited"]


def test_vocabulary_compliance_literal_denominator(spark):
    """J1: literal (non-URI) values inflate the population but never match
    (validators.py:425-427); empty arrays -> population 0 -> pct 0."""
    rows = [
        (1, ["http://ok.example/a", "not-a-uri", "http://bad.example/x"]),
        (2, ["http://ok.example/a", "http://ok.example/a"]),
        (3, []),
        (4, None),
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("vals", T.ArrayType(T.StringType())),
    ])
    df = spark.createDataFrame(rows, schema)
    allowed = ["http://ok.example/a", "not-a-uri"]  # non-URI entry can't match
    got = {
        r["doc_id"]: (r["compliant"], r["population"], r["pct"])
        for r in vocab.vocabulary_compliance(df, "vals", allowed).collect()
    }
    assert got[1] == (1, 3, pytest.approx(1 / 3))
    assert got[2] == (2, 2, pytest.approx(1.0))
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_label_membership_substring_fallback(spark):
    df = spark.createDataFrame(
        [("Creative Commons",), ("http://licenses.example/cc-by/4.0",), ("mit",),
         ("proprietary",), (None,)],
        ["v"],
    )
    got = [
        r["hit"]
        for r in df.select(
            vocab.label_membership(F.col("v"), ["CC-BY", "MIT"]).alias("hit")
        ).collect()
    ]
    # equality (lowercased), substring-of-value, equality, miss, null->False
    assert got == [False, True, True, False, False]


# ------------------------------------------------------------- extraction
def test_native_extraction_matches_python(spark):
    pdf = generate_pages(300, seed=21)
    df = spark.createDataFrame(pdf.drop(columns=["row_class"]))
    rows = df.select(
        "url", "text", extract_text_column(F.col("html")).alias("extracted")
    ).collect()
    assert len(rows) == 300
    for r in rows:
        assert r["extracted"] == r["text"], r["url"]


def test_native_extraction_hostile():
    """Entities, <, >, &, crlf-free newlines, empty body — byte-identical
    through render -> native extract (checked via the python twin, which
    test_native_extraction_matches_python ties to the Column version)."""
    hostile = [
        "", "a", "x & y < z > w", "&amp; literal &lt;main&gt;",
        "line1\nline2\n\nline4", "<main>nested</main>", "...",
    ]
    for text in hostile:
        assert extract_text(render_html(text)) == text


def test_native_extraction_hostile_spark(spark):
    hostile = [
        "x & y < z > w", "&amp; literal &lt;main&gt;",
        "line1\nline2\n\nline4", "<main>nested</main>",
    ]
    df = spark.createDataFrame(
        [(t, render_html(t)) for t in hostile], ["text", "html"]
    )
    for r in df.select(
        "text", extract_text_column(F.col("html")).alias("e")
    ).collect():
        assert r["e"] == r["text"]


def test_pipeline_accepts_html_only_input(spark):
    """quality_pipeline derives text from the html binary column when no
    text column exists — results identical to the text-input run."""
    from metadata_quality_stack_spark.plans.pipeline import quality_pipeline

    pdf = generate_pages(120, seed=31).drop(columns=["row_class"])
    full = spark.createDataFrame(pdf)
    cols = ["url", "total_score", "rating", "keep", "scrubbed_text"]
    from_html = quality_pipeline(
        full.drop("text"), id_cols=("url",), lang_col="lang"
    ).select(*cols)
    from_text = quality_pipeline(
        full.drop("html"), id_cols=("url",), lang_col="lang"
    ).select(*cols)
    assert sorted(map(tuple, from_html.collect())) == sorted(
        map(tuple, from_text.collect())
    )


def test_dedup_clusters_transitive(spark):
    """A near-dup chain A~B, B~C (A and C not direct candidates) must land
    in ONE cluster = min(doc_id): connected components cross >1 hop."""
    from pyspark.sql import Row

    from metadata_quality_stack_spark.operators import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    words = base.split()
    a = " ".join(words)
    b = " ".join(words[:-2] + ["CHANGED1", "CHANGED2"])       # shares head shingles with a
    c = " ".join(["DIFF1", "DIFF2"] + words[2:-2] + ["CHANGED1", "CHANGED2"])
    lone = "completely different text with nothing shared here at all ok"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate([a, b, c, lone])]
    )
    pairs = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_candidate_pairs(docs).collect()
    }
    clusters = {
        r["doc_id"]: r["cluster"] for r in dedup.dedup_clusters(docs).collect()
    }
    # the chain is connected (directly or transitively) and lone is alone
    assert clusters[3] == 3
    if (0, 1) in pairs and (1, 2) in pairs:
        assert clusters[0] == clusters[1] == clusters[2] == 0
    # clusters are always component-minimum doc ids
    assert all(cl <= d for d, cl in clusters.items())
