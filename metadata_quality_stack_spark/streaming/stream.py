"""Structured Streaming lift of the quality pipeline.

The reference is strictly batch-of-one request/response (SURVEY.md §2.10 —
no watermarks, windows, or stateful streams anywhere in
`mjanez/metadata-quality-stack`), and the north rule asks for batch +
resumable incremental runs. This module exists because a web-scale
quality filter in production typically ALSO runs as a continuous ingest:
the per-document stage of :func:`quality_pipeline` is map-only (scan →
project → one fused Arrow UDF stage → project, zero shuffles), so it lifts
verbatim onto ``readStream`` with exactly-once file-sink semantics — the
streaming checkpoint plays the role the batch path's snapshot manifest
plays (sources/sink.py).

Two entry points:

* :func:`stream_quality` — file-source ingest of page parquet drops →
  scored/scrubbed parquet. Every query here that writes runs with the
  ``availableNow`` trigger: one call processes every file not yet
  committed, then stops.
* :func:`stream_lang_histogram` — watermarked tumbling-window lang
  histogram over ``warc_ts`` (late data beyond the watermark dropped),
  the streaming analog of the per-partition metrics sidecar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from metadata_quality_stack_spark.plans.pipeline import quality_pipeline

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of page parquet drops. Schema is declared (file
    sources require it) so new files append without inference scans."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_quality(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous scoring: pages stream → quality pipeline → parquet sink.

    Exactly-once via the checkpoint: a killed run resumes from the last
    committed micro-batch, reprocessing only uncommitted files — the
    streaming counterpart of the batch bucket manifest."""
    pages = read_pages_stream(spark, input_dir)
    scored = quality_pipeline(pages, id_cols=("url", "warc_ts"), lang_col="lang")
    return (
        scored.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming exact dedup across micro-batches: md5(text) fingerprint +
    ``dropDuplicatesWithinWatermark`` keyed by fingerprint. A duplicate
    landing in a LATER file than its original is still dropped as long as
    both fall within the one-hour event-time watermark — the
    continuous-ingest twin of ``dedup.exact_dedup_groups``.

    Scale: state holds one entry per distinct fingerprint seen inside the
    watermark horizon, then ages out — bounded by ingest-rate x horizon,
    not corpus size. That bound is exactly why this is
    dropDuplicatesWithinWatermark and not dropDuplicates (whose state
    grows forever at 10^12 docs)."""
    pages = read_pages_stream(spark, input_dir)
    deduped = (
        pages.withColumn(
            "fingerprint", F.md5(F.encode(F.col("text"), "UTF-8"))
        )
        .withWatermark("warc_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_lang_histogram(spark: SparkSession, input_dir: str) -> DataFrame:
    """Watermarked tumbling-window histogram of declared ``lang`` keyed by
    ``warc_ts`` (one-hour windows, one-hour watermark): the streaming
    metrics sidecar. Late events older than the watermark are dropped;
    state is bounded by (windows in watermark × langs).
    Complete/update-mode sink chosen by the caller."""
    pages = read_pages_stream(spark, input_dir)
    return (
        pages.withWatermark("warc_ts", "1 hour")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_docs",
        )
    )


def stream_ingest_with_index(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    use_bloom: bool = False,
) -> StreamingQuery:
    """The production continuous-ingest loop: stream crawl pages, exact-
    dedup each micro-batch against the PERSISTENT fingerprint index
    (sources/dedup_index.py), write only first-seen documents, append
    their fingerprints to the index.

    This closes the gap the watermark variant (stream_dedup) leaves: its
    state ages out after the horizon, so a duplicate arriving a month
    later is re-admitted. Here membership lives in the on-disk bucketed
    index — unbounded corpus memory, bounded executor state (the
    anti-join probe shuffles 16-byte fingerprints, never text).

    Exactly-once note: foreachBatch can replay a batch after a crash;
    ingest_batch is idempotent for re-ingests (LEFT ANTI probe — rows
    re-appended by a replay are duplicates in the INDEX, which compaction
    removes and which can never re-admit a document), and the parquet
    write keys on doc_id so a replayed batch overwrites its own output
    partition-dir rather than doubling it.

    ``use_bloom`` routes each micro-batch through the bitmap sidecar
    (ingest_batch_bloom): definite-new documents — the bulk of a live
    crawl — skip the index anti-join, and the superset-first bitmap
    update keeps the no-false-negative guarantee across crashes AND
    foreachBatch replays (a replay re-probes; phantom bits only ever
    add anti-join work)."""
    from metadata_quality_stack_spark.sources.dedup_index import (
        ingest_batch,
        ingest_batch_bloom,
    )

    pages = read_pages_stream(spark, input_dir).withColumn(
        "doc_id", F.col("url")
    )

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest = ingest_batch_bloom if use_bloom else ingest_batch
        survivors = ingest(spark, batch_df, index_dir)
        out = batch_df.join(survivors.select("doc_id"), "doc_id", "left_semi")
        out.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_dir)

    return (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_hll_registers(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming distinct-text cardinality: the HLL register table
    (operators/hll.py) maintained as a streaming aggregation. State is
    EXACTLY 64 single-byte registers — the smallest stateful query in
    the repo — and because merge is an idempotent max, replayed or
    duplicated micro-batch rows can only leave the sketch unchanged.
    Complete-mode sink; a batch sketch over the same files must equal
    the streamed one (tested), which is the mergeability property that
    lets a monitoring job track corpus cardinality forever without
    growing state."""
    from metadata_quality_stack_spark.operators.hll import hll_registers

    return hll_registers(read_pages_stream(spark, input_dir))
