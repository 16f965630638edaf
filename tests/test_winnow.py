"""Winnowing fingerprints (Schleimer 2003): the selection matches an
independent pure-Python reference (hashlib md5, explicit rightmost-min
sliding window), the w+k-1 local-match guarantee pairs docs that share
one passage but have near-zero global Jaccard, the paper's density
bounds hold, hostile rows keep zero rows, and the per-doc window plan
never funnels through one task."""

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators import winnow

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _py_winnow(text, k=winnow.WINNOW_K, w=winnow.WINNOW_W):
    """Reference selection: 28-bit md5 k-gram hashes, rightmost minimum
    of every complete w-window, distinct (pos, h) pairs."""
    if text is None:
        return set()
    norm = " ".join(text.lower().split())
    if len(norm) < k:
        return set()
    hs = [
        int(hashlib.md5(norm[i : i + k].encode()).hexdigest()[:7], 16)
        for i in range(len(norm) - k + 1)
    ]
    sel = set()
    for j in range(len(hs) - w + 1):
        window = hs[j : j + w]
        m = min(window)
        pos = j + max(i for i, h in enumerate(window) if h == m)
        sel.add((pos, hs[pos]))
    return sel


def test_selection_matches_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "pack my box with five dozen liquor jugs said the sphinx of quartz",
        None,
        "",
        "short",
    ]
    got = {
        (r.doc_id, r.sel_pos, r.sel_h)
        for r in winnow.selected_fingerprints(_docs(spark, texts)).collect()
    }
    want = {
        (i, pos, h)
        for i, t in enumerate(texts)
        for (pos, h) in _py_winnow(t)
    }
    assert got == want and got  # non-degenerate


def test_local_match_guarantee_pairs_low_jaccard_docs(spark):
    # two docs share ONE ~60-char passage inside otherwise disjoint
    # text: global 3-word-shingle Jaccard is tiny (LSH regime misses
    # it) but winnowing guarantees >=1 common fingerprint for any
    # shared run >= w + k - 1 = 27 normalized chars
    passage = "copyright two thousand twenty six example press syndicate"
    a = "alpha beta gamma delta epsilon zeta " * 4 + passage
    b = passage + " omicron pi rho sigma tau upsilon phi chi psi " * 4
    pairs = winnow.winnow_overlap_pairs(
        _docs(spark, [a, b]), min_shared=1
    ).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]
    # and without any shared passage: no pair
    none = winnow.winnow_overlap_pairs(
        _docs(spark, [a.replace(passage, ""), b.replace(passage, "")]),
        min_shared=1,
    ).count()
    assert none == 0


def test_density_bounds_and_hostile_rows(spark):
    docs = spark.read.parquet(DOCS).limit(200)
    rows = winnow.winnow_fingerprints(docs).collect()
    assert len(rows) == 200
    for r in rows:
        if r.n_windows == 0:
            assert r.n_selected == 0
        else:
            # every window selects something; one selection covers at
            # most w windows -> ceil(n_windows / w) <= sel <= n_windows
            assert r.n_selected <= r.n_windows
            assert r.n_selected * winnow.WINNOW_W >= r.n_windows
    hostile = winnow.winnow_fingerprints(
        _docs(spark, [None, "", "   ", "tiny"])
    ).collect()
    assert all(r.n_grams == 0 and r.n_selected == 0 for r in hostile)


def test_window_plan_partitioned_by_doc(spark):
    docs = spark.read.parquet(DOCS)
    sel = winnow.selected_fingerprints(docs)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_oracle_parity_on_crafted_corpus(spark):
    # the gate covers the parquet corpus; this pins the ORACLE string
    # on hand-built rows incl. ties from repeated text (rightmost rule)
    texts = [
        "repeat repeat repeat repeat repeat repeat repeat repeat",
        "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
        "mixed content with repeat repeat repeat inside the middle",
    ]
    sdf = winnow.winnow_fingerprints(_docs(spark, texts)).toPandas()
    con = duckdb.connect()
    con.register(
        "documents",
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        ).toPandas(),
    )
    odf = con.sql(winnow.winnow_fingerprints_sql()).df()
    s = sdf.sort_values("doc_id").reset_index(drop=True)
    o = odf.sort_values("doc_id").reset_index(drop=True)
    assert (s[sorted(s.columns)].values == o[sorted(o.columns)].values).all()
