"""Persistent inverted index: probe equals inline BM25 bit-for-bit,
append maintains stats exactly, partition pruning actually prunes,
compaction bounds files without changing answers."""

import glob

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import md5_int_py
from metadata_quality_stack_spark.operators import retrieval
from metadata_quality_stack_spark.sources import store, text_index

DOCS = "/root/testdata/sf0.001/documents.parquet"
QUERY = ["vector", "hash", "window", "nosuchterm"]


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(DOCS)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_index_probe_equals_inline(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    text_index.build_text_index(docs, d)
    got = _rows(text_index.index_bm25_topk(spark, d, QUERY, 15))
    want = _rows(retrieval.bm25_topk(docs, QUERY, 15))
    assert got == want


def test_append_path_equals_whole_corpus(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    text_index.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d)
    text_index.append_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    assert text_index.read_stats(spark, d) == (
        docs.count(),
        int(
            docs.select(
                F.sum(F.size(text_index._lows())).alias("s")
            ).first().s
        ),
    )
    got = _rows(text_index.index_bm25_topk(spark, d, QUERY, 15))
    want = _rows(retrieval.bm25_topk(docs, QUERY, 15))
    assert got == want


def test_compaction_preserves_answer_and_bounds_files(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    text_index.build_text_index(docs.filter(F.col("doc_id") % 3 == 0), d)
    text_index.append_text_index(docs.filter(F.col("doc_id") % 3 == 1), d)
    text_index.append_text_index(docs.filter(F.col("doc_id") % 3 == 2), d)
    before = _rows(text_index.index_bm25_topk(spark, d, QUERY, 15))
    text_index.compact_text_index(spark, d)
    after = _rows(text_index.index_bm25_topk(spark, d, QUERY, 15))
    assert before == after == _rows(retrieval.bm25_topk(docs, QUERY, 15))
    for bucket_dir in glob.glob(f"{d}/term_bucket=*"):
        assert len(glob.glob(f"{bucket_dir}/*.parquet")) == 1


def test_probe_prunes_to_query_buckets(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    text_index.build_text_index(docs, d)
    probe = text_index.index_bm25_topk(spark, d, ["vector"], 5)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    b = _py_bucket("vector")
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans
    for ln in scans:
        # the literal bucket reached PartitionFilters (dir-level prune)
        # and the term equality reached PushedFilters (row-group prune)
        assert "PartitionFilters" in ln and f"= {b})" in ln
        assert "EqualTo(term,vector)" in ln


def _py_bucket(term):
    """The driver-side term bucket a probe prunes to."""
    return md5_int_py(term, 2) % text_index.TERM_BUCKETS


def test_engine_and_python_bucket_agree(spark, tmp_path):
    """The partition dir a term's postings are written to is the bucket
    the driver computes for it."""
    terms = ["vector", "hash", "window", "a", "zz", "café"]
    d = str(tmp_path / "idx")
    text_index.build_text_index(
        spark.createDataFrame(list(enumerate(terms)), "doc_id long, text string"), d
    )
    df = store.read_table(spark, d).select("term", F.col("term_bucket").alias("b"))
    got = {r.term: r.b for r in df.collect()}
    assert got == {t: _py_bucket(t) for t in terms}


def test_bucket_math_stays_in_range(spark):
    assert 0 <= _py_bucket("anything") < text_index.TERM_BUCKETS
    assert 0 <= _py_bucket("ff" * 40) < text_index.TERM_BUCKETS


def test_domain_top_terms_hostile_and_ranked(spark):
    """Null source rows drop out; empty/whitespace text contributes no
    terms; rnk is dense per source and tfidf is non-increasing within a
    source; a domain-unique term outranks one every domain shares."""
    from metadata_quality_stack_spark.operators.retrieval import (
        domain_top_terms,
    )

    rows = [
        (1, "a.com", "shared quantum quantum widgets"),
        (2, "a.com", "shared widgets"),
        (3, "b.com", "shared gardening"),
        (4, "b.com", "   "),
        (5, None, "shared orphan text"),
        (6, "c.com", ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = domain_top_terms(docs, k=3).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, []).append(r)
    assert None not in by_src and "c.com" not in by_src
    a = sorted(by_src["a.com"], key=lambda r: r.rnk)
    # 'quantum'/'widgets' are a.com-only (df=1) and beat 'shared' (df=2);
    # quantum tf=2 beats widgets tf=2? widgets appears twice too — tie
    # broken by term asc
    assert [r.term for r in a[:2]] == ["quantum", "widgets"]
    assert a[0].tf == 2 and a[0].tfidf_micros >= a[1].tfidf_micros
    for rs in by_src.values():
        ranked = sorted(rs, key=lambda r: r.rnk)
        assert [r.rnk for r in ranked] == list(range(1, len(ranked) + 1))
        assert all(
            x.tfidf_micros >= y.tfidf_micros
            for x, y in zip(ranked, ranked[1:])
        )
