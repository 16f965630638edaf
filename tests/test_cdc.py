"""Content-defined chunking: boundary invariance under local edits
(THE property CDC exists for), chunk reconstruction, duplicated-region
detection across documents, hostile and non-ASCII rows, and the DuckDB
mirrors."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators import cdc

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_chunks_reconstruct_text(spark):
    docs = _docs(spark, ["the quick brown fox jumps over the lazy dog " * 8])
    joined = (
        cdc._chunks(docs)
        .orderBy("pos")
        .agg(F.concat_ws("", F.collect_list("chunk")))
        .first()[0]
    )
    assert joined == "the quick brown fox jumps over the lazy dog " * 8


def test_boundaries_survive_prefix_edit(spark):
    """Content-defined means an edit only re-chunks its neighborhood:
    a prefix insertion must leave the tail boundary structure intact
    (same chunk hashes after the first few chunks)."""
    base = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 20
    docs = _docs(spark, [base, "EDITED! " + base])
    ch = (
        cdc._chunks(docs)
        .select("doc_id", F.md5("chunk").alias("h"))
        .toPandas()
    )
    h0 = set(ch[ch.doc_id == 0].h)
    h1 = set(ch[ch.doc_id == 1].h)
    # all but the first O(1) chunks are shared
    assert len(h0 & h1) >= len(h0) - 2
    # a fixed-width chunker would share ~nothing after an 8-char shift


def test_dedup_ratio_sees_cross_doc_repetition(spark):
    boiler = "subscribe to our newsletter for updates and offers " * 10
    docs = _docs(spark, [boiler + "unique tail one", boiler + "other end two"])
    row = cdc.cdc_dedup_ratio(docs).first()
    assert row.dup_chunks > 0
    assert 0 < row.dup_bytes_ppm < 1_000_000
    assert row.total_bytes == sum(
        len(t) for t in [boiler + "unique tail one", boiler + "other end two"]
    )


def test_hostile_rows(spark):
    docs = _docs(spark, [None, "", "ab", "x" * 7])
    out = {r.doc_id: r for r in cdc.cdc_chunk_stats(docs).collect()}
    assert out[0].n_chunks == 0 and out[0].n_chars == 0
    assert out[1].n_chunks == 0
    assert out[2].n_chunks == 1 and out[2].max_chunk_len == 2
    assert out[3].n_chunks == 1  # shorter than the window: one chunk


def test_unicode_and_hostile_rows_match_oracle(spark):
    # non-ASCII codepoints enter the window hash; both engines must agree
    docs = _docs(
        spark,
        ["café déjà vu naïve façade " * 30, "日本語のテキスト " * 40, None, ""],
    )
    sp = cdc.cdc_chunk_stats(docs).toPandas().sort_values("doc_id")
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    dk = con.execute(cdc.cdc_chunk_stats_sql()).fetchdf().sort_values("doc_id")
    assert sp["n_chunks"].max() > 1  # a non-ASCII window hash does cut
    pd.testing.assert_frame_equal(
        sp.reset_index(drop=True).astype("int64"),
        dk.reset_index(drop=True).astype("int64"),
    )


def test_oracles_match(spark):
    docs = spark.read.parquet(DOCS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    sp = (
        cdc.cdc_chunk_stats(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype("int64")
    )
    dk = (
        con.execute(cdc.cdc_chunk_stats_sql())
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype("int64")
    )
    pd.testing.assert_frame_equal(sp, dk)
    sp2 = cdc.cdc_dedup_ratio(docs).toPandas().astype("int64")
    dk2 = con.execute(cdc.cdc_dedup_ratio_sql()).fetchdf().astype("int64")
    pd.testing.assert_frame_equal(sp2, dk2)


def test_stats_path_is_map_only(spark):
    docs = spark.read.parquet(DOCS)
    plan = (
        cdc.cdc_chunk_stats(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------- chunk index
def test_chunk_index_novelty_semantics(spark, tmp_path):
    from metadata_quality_stack_spark.sources import cdc_index

    boiler = "shared boilerplate block repeated verbatim everywhere " * 8
    base = _docs(spark, [boiler + "original tail"])
    d = str(tmp_path / "idx")
    cdc_index.build_chunk_index(base, d)
    batch = spark.createDataFrame(
        [(10, boiler + "completely new ending text here"), (11, "")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in cdc_index.novel_bytes_batch(spark, batch, d).collect()
    }
    # the boilerplate chunks are known; only the edited tail is novel
    assert 0 < out[10].novel_ppm < 500_000
    assert out[11].total_bytes == 0 and out[11].novel_ppm == 0
    # re-ingesting the same doc: now nothing is novel
    again = cdc_index.novel_bytes_batch(
        spark, batch.filter("doc_id = 10"), d
    ).first()
    assert again.novel_bytes == 0


def test_chunk_index_cycle_oracle(spark):
    import duckdb

    from metadata_quality_stack_spark.sources import cdc_index

    docs = spark.read.parquet(DOCS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{DOCS}'")
    sp = (
        cdc_index.chunk_index_cycle(spark, docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype("int64")
    )
    dk = (
        con.execute(cdc_index.chunk_index_cycle_sql())
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype("int64")
    )
    pd.testing.assert_frame_equal(sp, dk)
