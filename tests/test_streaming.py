"""Structured Streaming lift: streaming result == batch result on the same
input, checkpointed resume skips committed files, watermarked window agg.
"""

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.plans.pipeline import quality_pipeline
from metadata_quality_stack_spark.sources.pages import generate_pages
from metadata_quality_stack_spark.streaming.stream import (
    stream_dedup,
    stream_lang_histogram,
    stream_quality,
)


def test_stream_dedup_across_batches(spark, tmp_path):
    """Duplicates landing in later files are dropped within the
    watermark; state is fingerprint-bounded, not corpus-bounded."""
    import pandas as pd

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = pd.Timestamp("2024-01-01 12:00:00")
    texts = [f"document number {i} body text" for i in range(20)]

    def _write(rows, name):
        pdf = pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    # batch 1: 20 originals; batch 2: 10 dups (same text, new urls) + 5 new
    _write(
        [(f"https://a/{i}", ts, b"", texts[i], "en") for i in range(20)], "b1"
    )
    _write(
        [(f"https://b/{i}", ts + pd.Timedelta(minutes=5), b"", texts[i], "en")
         for i in range(10)]
        + [(f"https://c/{i}", ts + pd.Timedelta(minutes=6), b"",
            f"fresh content {i} here now", "en") for i in range(5)],
        "b2",
    )
    q = stream_dedup(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 25  # 20 originals + 5 fresh, 10 dups dropped
    assert got.select("fingerprint").distinct().count() == 25


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream"))
    pdf = generate_pages(200, seed=11).drop(columns=["row_class"])
    spark.createDataFrame(pdf).repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_stream_matches_batch(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_quality(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)

    streamed = spark.read.parquet(out)
    batch = quality_pipeline(
        spark.read.parquet(pages_dir), id_cols=("url", "warc_ts"), lang_col="lang"
    )
    cols = ["url", "total_score", "rating", "keep", "scrubbed_text"]
    s = sorted(tuple(r) for r in streamed.select(*cols).collect())
    b = sorted(tuple(r) for r in batch.select(*cols).collect())
    assert s == b


def test_stream_resume_no_duplicates(spark, pages_dir, tmp_path):
    """availableNow run, then new files land, then a second run with the
    SAME checkpoint: only new files processed, no duplicate urls."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_quality(spark, pages_dir, out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    extra = generate_pages(50, seed=99).drop(columns=["row_class"])
    extra["url"] = extra["url"] + "/late"
    spark.createDataFrame(extra).coalesce(1).write.mode("append").parquet(pages_dir)

    stream_quality(spark, pages_dir, out, ckpt).awaitTermination(120)
    result = spark.read.parquet(out)
    assert result.count() == n1 + 50
    dups = (
        result.groupBy("url").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0


def test_windowed_lang_histogram(spark, pages_dir, tmp_path):
    agg = stream_lang_histogram(spark, pages_dir)
    q = (
        agg.writeStream.format("memory")
        .queryName("lang_hist")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT lang, sum(n_docs) AS n FROM lang_hist GROUP BY lang"
    ).collect()
    want = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(pages_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["lang"]: r["n"] for r in got} == want


def test_stateful_running_domain_stats(spark, pages_dir, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: force one
    file per trigger, then the final per-domain totals must equal the
    batch groupBy over the whole input."""
    from metadata_quality_stack_spark.streaming.stateful import (
        running_domain_stats,
    )
    from metadata_quality_stack_spark.streaming.stream import (
        PAGES_SCHEMA,
        read_pages_stream,
    )

    pages = read_pages_stream(spark, pages_dir, max_files_per_trigger=1)
    scored = quality_pipeline(pages, id_cols=("url",), lang_col="lang",
                              include_text=False)
    q = (
        running_domain_stats(scored)
        .writeStream.format("memory")
        .queryName("domain_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # >1 micro-batch actually ran (statefulness was exercised)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    import pandas as pd

    got = spark.sql(
        "SELECT domain, max(n_docs) AS n_docs, max(n_kept) AS n_kept "
        "FROM domain_stats GROUP BY domain"
    ).toPandas().set_index("domain")
    batch = quality_pipeline(
        spark.read.parquet(pages_dir), id_cols=("url",), lang_col="lang",
        include_text=False,
    )
    want = (
        batch.select(
            F.regexp_extract("url", r"^(?:https?://)?([^/]+)", 1).alias("domain"),
            F.col("keep").cast("int").alias("keep"),
        )
        .groupBy("domain")
        .agg(F.count("*").alias("n_docs"), F.sum("keep").alias("n_kept"))
        .toPandas().set_index("domain")
    )
    assert sorted(got.index) == sorted(want.index)
    for d in want.index:
        assert got.loc[d, "n_docs"] == want.loc[d, "n_docs"], d
        assert got.loc[d, "n_kept"] == want.loc[d, "n_kept"], d


def test_stream_ingest_with_index_survives_restart(spark, tmp_path):
    """The persistent-index ingest loop: duplicates are dropped ACROSS
    separate query runs (where watermark state would have been lost) —
    the index on disk, not executor state, is the membership."""
    import pandas as pd

    from metadata_quality_stack_spark.streaming.stream import (
        stream_ingest_with_index,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "index")
    ts = pd.Timestamp("2024-01-01 12:00:00")
    texts = [f"indexed doc {i} body" for i in range(12)]

    def _write(rows):
        pdf = pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    _write([(f"https://a/{i}", ts, b"", texts[i], "en") for i in range(12)])
    q = stream_ingest_with_index(spark, src, out, ckpt, idx)
    q.awaitTermination(120)

    # second QUERY RUN (fresh stream, same checkpoint/index): 6 cross-run
    # dups under new urls + 4 genuinely new docs
    _write(
        [(f"https://b/{i}", ts + pd.Timedelta(days=40), b"", texts[i], "en")
         for i in range(6)]
        + [(f"https://c/{i}", ts + pd.Timedelta(days=40), b"",
            f"late fresh {i}", "en") for i in range(4)]
    )
    q2 = stream_ingest_with_index(spark, src, out, ckpt, idx)
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 16  # 12 originals + 4 new; 6 forty-day dups dropped
    assert got.select("text").distinct().count() == 16


def test_stream_ingest_with_index_bloom_variant(spark, tmp_path):
    """Same cross-run dedup guarantees with the bloom pre-filter routing
    micro-batches: identical survivor set, and the bitmap sidecar exists
    and stays a superset of the index (spot-checked via re-probe)."""
    import pandas as pd

    from metadata_quality_stack_spark.sources import dedup_index as di
    from metadata_quality_stack_spark.streaming.stream import (
        stream_ingest_with_index,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "index")
    ts = pd.Timestamp("2024-01-01 12:00:00")
    texts = [f"bloomed doc {i} body" for i in range(10)]

    def _write(rows):
        pdf = pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    _write([(f"https://a/{i}", ts, b"", texts[i], "en") for i in range(10)])
    q = stream_ingest_with_index(spark, src, out, ckpt, idx, use_bloom=True)
    q.awaitTermination(120)

    _write(
        [(f"https://b/{i}", ts + pd.Timedelta(days=40), b"", texts[i], "en")
         for i in range(5)]
        + [(f"https://c/{i}", ts + pd.Timedelta(days=40), b"",
            f"bloom fresh {i}", "en") for i in range(3)]
    )
    q2 = stream_ingest_with_index(spark, src, out, ckpt, idx, use_bloom=True)
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 13  # 10 originals + 3 new; 5 cross-run dups dropped
    assert got.select("text").distinct().count() == 13
    assert di.read_bloom(spark, idx) is not None


def test_stream_hll_equals_batch_sketch(spark, tmp_path):
    """The streamed register table must equal the batch sketch over the
    same files — max-merge makes micro-batching invisible."""
    import pandas as pd

    from metadata_quality_stack_spark.operators import hll
    from metadata_quality_stack_spark.sources.pages import generate_pages
    from metadata_quality_stack_spark.streaming.stream import (
        stream_hll_registers,
    )

    pages_dir = str(tmp_path / "pages")
    pdf = generate_pages(200, seed=11).drop(columns=["row_class"])
    spark.createDataFrame(pdf).coalesce(2).write.parquet(pages_dir)

    agg = stream_hll_registers(spark, pages_dir)
    q = (
        agg.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM hll_stream")
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    want = (
        hll.hll_registers(spark.read.parquet(pages_dir))
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64")
    )
