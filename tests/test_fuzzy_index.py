"""Persistent LSH band index: build/ingest/compact lifecycle, crash-dup
immunity (countDistinct probe), within-batch precedence, no-shingle
contract, idempotent re-ingest."""

import os

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.sources import fuzzy_index
from metadata_quality_stack_spark.sources.store import read_table

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def index_dir(tmp_path):
    return str(tmp_path / "fuzzy_idx")


def test_ingest_flags_corpus_and_batch_dups(spark, index_dir):
    corpus = _docs(spark, [(0, BASE), (1, "completely different words " * 5)])
    fuzzy_index.build_fuzzy_index(corpus, index_dir)
    batch = _docs(
        spark,
        [
            (10, BASE + " tail"),            # near-dup of corpus doc 0
            (11, "fresh novel sentence with many new tokens here ok"),
            (12, "fresh novel sentence with many new tokens here ok"),  # dup of 11
            (13, "xy"),                       # < 3 tokens: no shingles
        ],
    )
    out = {r.doc_id: r for r in fuzzy_index.fuzzy_ingest_batch(spark, batch, index_dir).collect()}
    assert out[10].near_dup_of_corpus and not out[10].keep
    assert out[11].keep and not out[11].batch_near_dup
    assert out[12].batch_near_dup and not out[12].keep
    assert out[13].keep and out[13].n_hit_bands == 0  # exact path's job
    # the admitted doc's cells are now in the index: re-ingesting the
    # same novel text flags as corpus near-dup (idempotent growth)
    again = _docs(spark, [(20, "fresh novel sentence with many new tokens here ok")])
    r = fuzzy_index.fuzzy_ingest_batch(spark, again, index_dir).collect()[0]
    assert r.near_dup_of_corpus and not r.keep


def test_crash_duplicate_cells_never_inflate_hits(spark, index_dir):
    corpus = _docs(spark, [(0, BASE)])
    fuzzy_index.build_fuzzy_index(corpus, index_dir)
    # simulate a mid-append crash retry: append the SAME cells again
    cells = read_table(spark, index_dir)
    (
        cells.select("band", "bucket")
        .repartition("band")
        .write.mode("append")
        .partitionBy("band")
        .parquet(index_dir)
    )
    probe = _docs(spark, [(5, BASE)])
    r1 = fuzzy_index.fuzzy_ingest_batch(spark, probe, index_dir).collect()[0]
    from metadata_quality_stack_spark.operators.dedup import N_BANDS

    assert r1.n_hit_bands <= N_BANDS  # duplicates did not double-count
    assert r1.near_dup_of_corpus
    # compaction removes the duplicate rows and changes NO answer
    n_rows_before = read_table(spark, index_dir).count()
    fuzzy_index.compact_fuzzy_index(spark, index_dir)
    n_rows_after = read_table(spark, index_dir).count()
    assert n_rows_after < n_rows_before
    r2 = fuzzy_index.fuzzy_ingest_batch(
        spark, _docs(spark, [(6, BASE)]), index_dir
    ).collect()[0]
    assert (r2.n_hit_bands, r2.near_dup_of_corpus) == (
        r1.n_hit_bands, r1.near_dup_of_corpus,
    )


def test_band_partition_layout(spark, index_dir):
    fuzzy_index.build_fuzzy_index(_docs(spark, [(0, BASE)]), index_dir)
    dirs = [d for d in os.listdir(index_dir) if d.startswith("band=")]
    assert dirs, os.listdir(index_dir)
    # probe result pinned before append: collect works after dir growth
    out = fuzzy_index.fuzzy_ingest_batch(
        spark, _docs(spark, [(1, "some new words arrive here now ok yes")]),
        index_dir,
    )
    assert out.collect()[0].keep
