"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

The flagship measurement is the full quality pipeline (langid +
perplexity UDFs, native rules, scrub, rollup) over a ~100k-doc
Common-Crawl-style corpus (deterministic generator, replicated in-Spark);
`docs_per_sec` is the north-rule throughput number. Results are
materialized through the `noop` sink so Catalyst cannot prune the UDF
columns away.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from metadata_quality_stack_spark import get_spark
from metadata_quality_stack_spark.operators import analytics, dedup, similarity
from metadata_quality_stack_spark.plans.pipeline import quality_pipeline
from metadata_quality_stack_spark.sources.pages import generate_pages
from perfbench import measure

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PIPELINE_BASE_ROWS = int(os.environ.get("BENCH_BASE_ROWS", "4000"))
PIPELINE_REPLICAS = int(os.environ.get("BENCH_REPLICAS", "25"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_pages_corpus(spark, replicas: int, n_partitions: int):
    """Deterministic (base x ``replicas``)-doc pages corpus: the generated
    pages crossed with ``range(replicas)``, each url suffixed with its
    replica id so urls stay unique. The one corpus builder shared by this
    bench and the scaling / sustained tools."""
    pdf = generate_pages(PIPELINE_BASE_ROWS, seed=7).drop(columns=["row_class"])
    base = spark.createDataFrame(pdf)
    reps = spark.range(replicas).select(F.col("id").alias("replica"))
    return (
        base.crossJoin(reps)
        .withColumn("url", F.concat_ws("/", "url", F.col("replica").cast("string")))
        .drop("replica")
        .repartition(n_partitions)
    )


def timed_best(run_fn, runs: int, hunt_budget: int, hunt_deadline: float):
    """Best-of-N wall time with per-run steal accounting. A shared host
    sees CPU-steal storms (neighbors can steal 100s of CPU-seconds
    inside one run); min wall is the honest engine number, and the steal
    seen during that best run rides along so the RECORD is
    self-explaining (VERDICT r4: a polluted official bench was
    unfalsifiable because only the flagship emitted its steal). If even
    the best run was polluted, take up to ``hunt_budget`` extra runs
    with a pause first — storms arrive at ~minute cadence, so waiting
    beats re-running into the same one; measured quiet-vs-storm drift is
    1.6-8x on the same binary. ``hunt_deadline`` (epoch seconds) caps
    the waiting across the whole bench run. Returns the best run's
    ``measure.timed`` record plus ``load_1m_best``, and the number of
    extra runs taken."""
    best, extra, n = None, 0, 0
    while n < runs or (
        best["steal_jiffies"] > 15
        and extra < hunt_budget
        and time.time() < hunt_deadline
    ):
        if n >= runs:
            extra += 1
            # escalating wait, polling 5 s slices until one shows the
            # host quiet (≤1 steal jiffy) — a blind fixed sleep kept
            # landing retries inside the same multi-minute storm
            # (r5 13:39 record: 308 steal after 3 fixed 15 s pauses)
            wait = min(15 * (2 ** (extra - 1)), 240)
            deadline = min(time.time() + wait, hunt_deadline)
            while time.time() < deadline:
                s0 = measure.steal_jiffies()
                time.sleep(5)
                if measure.steal_jiffies() - s0 <= 1:
                    break
        n += 1
        run = measure.timed(run_fn)
        if best is None or run["wall_s"] < best["wall_s"]:
            # load_1m at the END of the best run: steal only counts
            # hypervisor preemption — in-host neighbor load shows up
            # here instead (r5: pipeline 4.15 s at 7 steal but load
            # 17.9 vs 3.3 s quiet — the record must explain both)
            best = {**run, "load_1m_best": round(os.getloadavg()[0], 1)}
    return best, extra


def main() -> None:
    # 1-min load BEFORE the bench spawns anything: load_1m_best during a
    # query is dominated by the bench's own 32 threads, so this is the
    # only load reading that isolates NEIGHBOR activity on the host
    load_1m_start = round(os.getloadavg()[0], 1)
    spark = get_spark(
        app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8)
    )
    t = lambda name: spark.read.parquet(f"{SF_DIR}/{name}.parquet")  # noqa: E731

    timings: dict[str, float] = {}
    n_docs = PIPELINE_BASE_ROWS * PIPELINE_REPLICAS

    # flagship: full pipeline over the pages corpus
    corpus = build_pages_corpus(spark, PIPELINE_REPLICAS, CPUS * 2)
    corpus.write.mode("overwrite").parquet("/tmp/bench_pages")
    corpus = spark.read.parquet("/tmp/bench_pages")
    # warm the executor python workers (package import + model build happen
    # once per worker in production; don't charge them to throughput) AND
    # C2-JIT the generated projection with a full-corpus pass — short warmups
    # leave the hot methods half-compiled and the first measured run 2-5x slow
    _noop(
        quality_pipeline(
            corpus.sample(fraction=0.02, seed=1), id_cols=("url",), lang_col="lang"
        )
    )
    _noop(quality_pipeline(corpus, id_cols=("url",), lang_col="lang"))

    steal_best: dict[str, int] = {}
    load_best: dict[str, float] = {}
    quiet_retries: dict[str, int] = {}
    # global cap on quiet-hunt WAITING across the whole bench run: a
    # persistent storm must degrade the record (with steal_jiffies
    # explaining it), not stall the driver for an hour
    hunt_deadline = time.time() + int(os.environ.get("BENCH_HUNT_BUDGET_S", "600"))

    def bench(name, df_fn, runs: int = 3):
        # every query hunts for a quiet window (r4 extended this beyond
        # the flagship: the micro-queries were the ones a storm polluted)
        best, extra = timed_best(lambda: _noop(df_fn()), runs, 5, hunt_deadline)
        timings[name] = round(best["wall_s"], 3)
        steal_best[name] = best["steal_jiffies"]
        load_best[name] = best["load_1m_best"]
        quiet_retries[name] = extra

    bench(
        "quality_pipeline_full",
        lambda: quality_pipeline(corpus, id_cols=("url",), lang_col="lang"),
        runs=int(os.environ.get("BENCH_PIPELINE_RUNS", "5")),
    )

    # sf tables ship as ONE parquet file (< maxPartitionBytes), which Spark
    # scans as a single task; repartition so per-doc operators actually
    # parallelize — a real crawl input is thousands of files and needs none
    docs = t("documents").repartition(CPUS)
    bench("quality_scores_native", lambda: analytics.scored_documents(docs))
    bench("exact_dedup", lambda: dedup.exact_dedup_groups(docs))
    bench("minhash_bands", lambda: dedup.minhash_bands(docs))
    bench("simhash", lambda: dedup.simhash(docs))
    bench(
        "tpch_q1",
        lambda: t("lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count("*").alias("n"),
        ),
    )
    bench("latest_event_per_user", lambda: analytics.latest_event_per_user(t("events")))
    bench("embedding_topk", lambda: similarity.brute_force_topk(t("embeddings")))

    total = round(sum(timings.values()), 3)

    # the SQL-oracled micro pipeline (correctness spine, r4) measured on
    # the SAME pages corpus as the flagship, reported OUTSIDE `queries`
    # so bench_total stays comparable across rounds. Map-only since the
    # scorers became literal-array folds (zero Exchange, like the UDF
    # path); still slower than the fused Arrow crossing — one md5 per
    # gram is the price of cross-engine oracle-ability.
    from metadata_quality_stack_spark.operators import micro_lm

    micro_src = corpus.select(
        F.col("url").alias("doc_id"), "text", "lang"
    )
    # best-of-2 with a 1-retry quiet hunt: single runs proved
    # steal-polluted, and at ~26 s/run a deep hunt costs too much
    micro, micro_extra = timed_best(
        lambda: _noop(micro_lm.full_pipeline_micro(micro_src)), 2, 1, hunt_deadline
    )
    # the end-to-end curation recipe (quality -> exact dedup -> fuzzy
    # dedup -> decontaminate -> split) on the SAME 100k-page corpus,
    # reported OUTSIDE bench_total like the micro pipeline: it is the
    # flagship composite, not a per-round comparable
    from metadata_quality_stack_spark.operators.urlops import _h60_url, domain_of
    from metadata_quality_stack_spark.plans.curate import curation_recipe

    # same nonnegative 60-bit hash as job.py --curate: doc_id sign changes
    # the % EVAL_MOD holdout (Spark % preserves sign), so bench and
    # production must key identically
    rec_src = corpus.select(
        _h60_url(F.col("url")).alias("doc_id"),
        "text",
        "lang",
        domain_of(F.col("url")).alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    rec_meta = {"lang": "lang", "source": "source", "n_chars": "n_chars"}
    rec, rec_extra = timed_best(
        lambda: _noop(curation_recipe(rec_src, meta_cols=rec_meta)), 2, 1, hunt_deadline
    )

    docs_per_sec = round(n_docs / timings["quality_pipeline_full"], 1)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
                "pipeline_docs": n_docs,
                "docs_per_sec": docs_per_sec,
                "cpus": CPUS,
                # per-query steal seen during each BEST run + how many
                # quiet-hunt retries it took: the record distinguishes an
                # engine regression from neighbor noise by itself
                "steal_jiffies": steal_best,
                "load_1m_best": load_best,
                "quiet_retries": quiet_retries,
                "pipeline_steal_jiffies": steal_best["quality_pipeline_full"],
                "micro_pipeline_sec": round(micro["wall_s"], 3),
                "micro_pipeline_docs_per_sec": round(n_docs / micro["wall_s"], 1),
                "micro_pipeline_steal_jiffies": micro["steal_jiffies"],
                "micro_pipeline_load_1m": micro["load_1m_best"],
                "micro_pipeline_quiet_retries": micro_extra,
                "curation_recipe_sec": round(rec["wall_s"], 3),
                "curation_recipe_docs_per_sec": round(n_docs / rec["wall_s"], 1),
                "curation_recipe_steal_jiffies": rec["steal_jiffies"],
                "curation_recipe_load_1m": rec["load_1m_best"],
                "curation_recipe_quiet_retries": rec_extra,
                "load_1m": round(os.getloadavg()[0], 1),
                "load_1m_start": load_1m_start,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
