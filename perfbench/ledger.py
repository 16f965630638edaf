"""Traced run: splits a workload into per-layer numbers.

Two methods, both driven from outside the program:

* cut points: the workload truncated after a layer, through the noop
  sink, on the same input; a layer's cost is its cut minus the previous
  cut (medians of CUT_REPS interleaved executions after a warm pass;
  building the plan is its own layer);
* the Spark event log, on for the traced session only: per-execution
  wall, shuffle and spill bytes, job counts per job group, and the
  Arrow UDF node's bytes to and from Python.

Every name in LAYER_UNITS is reported for every workload; a layer the
workload never enters reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
import measure
from workloads import Ingest, Score, noop, session

CUT_REPS = 2  # interleaved passes per cut
BATCH_DOCS = 10_000  # direct score_batch timing
# curate ledger corpus: unique docs plus shares of exact and near copies
CURATE_UNIQUE, EXACT_SHARE, NEAR_SHARE = 500, 0.10, 0.10
CURATE_WARM_DOCS = 60  # slice that compiles the dedup plans before timing
CORPUS_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

LAYER_UNITS = {
    "scan.s": "s",
    "sources.pages.extract_s": "s",
    "plans.pipeline.build_s": "s",
    "plans.pipeline.model_scores_s": "s",
    "plans.pipeline.udf_bytes_to_python": "B",
    "plans.pipeline.udf_bytes_from_python": "B",
    "plans.pipeline.arrow_passthrough_s": "s",
    "functions.langid.batch_s_per_kdoc": "s",
    "functions.perplexity.batch_s_per_kdoc": "s",
    "plans.pipeline.model_useful_frac": "frac",
    "operators.rules.s": "s",
    "functions.scrub.s": "s",
    "operators.urlops.s": "s",
    "sources.sink.write_job_s": "s",
    "sources.sink.write_tasks": "count",
    "sources.sink.commit_readback_s": "s",
    "sources.sink.shuffle_bytes": "B",
    "sources.sink.files": "count",
    "sources.sink.out_bytes_per_doc": "B",
    "plans.pipeline.partition_metrics_s": "s",
    "sources.sink.read_results_s": "s",
    "job.session_s": "s",
    "plans.curate.score_exact_s": "s",
    "plans.curate.exact_removed_frac": "frac",
    "operators.dedup.fuzzy_s": "s",
    "operators.dedup.rounds": "count",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.removed_per_pair": "frac",
    "operators.contamination.decontaminate_s": "s",
    "curate.shuffle_bytes": "B",
    "curate.spill_bytes": "B",
    "curate.join_split_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_sum_gap": "frac",
    "score.local1_docs_per_s": "1/s",
    "score.scaling_1_to_4": "frac",
}

# the layers that add up to one traced end-to-end pass
LAYER_SUMS = {
    "score": [
        "scan.s", "sources.pages.extract_s", "plans.pipeline.build_s",
        "plans.pipeline.model_scores_s", "operators.rules.s", "functions.scrub.s",
    ],
    "ingest": [
        "job.session_s", "plans.pipeline.build_s", "sources.sink.write_job_s",
        "sources.sink.commit_readback_s", "plans.pipeline.partition_metrics_s",
    ],
}


# ------------------------------------------------------------ event log


def read_event_log(path: str) -> dict:
    """SQL executions, jobs, and the accumulables and task counts of
    completed stages, of one application."""
    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict[str, float]] = {}
    tasks: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                execs[e["executionId"]] = {"plan": e.get("physicalPlanDescription", ""), "t0": e["time"]}
            elif ev.endswith("SQLExecutionEnd"):
                execs[e["executionId"]]["t1"] = e["time"]
            elif ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                ex = p.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "group": p.get("spark.jobGroup.id"),
                    "exec": int(ex) if ex is not None else None,
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerStageCompleted":
                acc = {}
                for a in e["Stage Info"].get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                    except (TypeError, ValueError):
                        pass
                stages[e["Stage Info"]["Stage ID"]] = acc
                tasks[e["Stage Info"]["Stage ID"]] = e["Stage Info"]["Number of Tasks"]
    return {"execs": execs, "jobs": jobs, "stages": stages, "tasks": tasks}


def stage_sum(log: dict, job_ids, *names: str) -> float:
    seen = {s for j in job_ids for s in log["jobs"][j]["stages"]}
    return sum(log["stages"].get(s, {}).get(n, 0.0) for s in seen for n in names)


SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
SPILL = ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled")
TO_PY, FROM_PY = "data sent to Python workers", "data returned from Python workers"


class EventLog:
    """The traced session's event-log directory; ``new_apps`` returns the
    logs of applications that finished since the previous call."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)
        self.seen: set[str] = set()

    def new_apps(self) -> list[dict]:
        done = sorted(p for p in glob.glob(os.path.join(self.path, "*")) if not p.endswith(".inprogress"))
        fresh = [p for p in done if p not in self.seen]
        self.seen.update(fresh)
        return [read_event_log(p) for p in fresh]

    def session(self) -> SparkSession:
        return session(self.path)


def group_jobs(log: dict, group: str) -> list[int]:
    return [j for j, v in log["jobs"].items() if v["group"] == group]


# ------------------------------------------------------------ cuts


def passthrough_udf():
    """Same input and output schema as model_scores_udf, constant output:
    what is left is the Arrow crossing itself."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("lang_pred string, lang_conf double, ppl double")
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            n = len(texts)
            yield pd.DataFrame({"lang_pred": ["en"] * n, "lang_conf": np.ones(n), "ppl": np.ones(n)})

    return _udf


SCRUB_COLS = ["scrubbed_text", "scrub_count", "scrub_email_count", "scrub_ip_count", "scrub_phone_count"]
MODEL_COLS = ["lang_pred", "lang_conf", "ppl"]


def pipeline_cuts(pre, id_cols) -> dict:
    """Cuts of quality_pipeline over ``pre()``: after the model UDF and
    after the rules (the pipeline with the later columns pruned away),
    the pass-through UDF in the model UDF's place, and the whole
    pipeline."""
    from metadata_quality_stack_spark.plans.pipeline import quality_pipeline

    def full():
        return quality_pipeline(pre(), id_cols=id_cols, lang_col="lang")

    def passthrough():
        # quality_pipeline's stage 1 with the constant UDF swapped in
        m = passthrough_udf()(F.col("text"))
        return pre().withColumn("_m", m).select(*id_cols, "lang", *[f"_m.{c}" for c in MODEL_COLS])

    return {
        "models": lambda: full().select(*id_cols, "lang", *MODEL_COLS),
        "passthrough": passthrough,
        "rules": lambda: full().drop(*SCRUB_COLS),
        "full": full,
    }


def time_cuts(spark: SparkSession, cuts: dict) -> dict[str, float]:
    """Median wall of each cut over CUT_REPS interleaved passes, after
    one warm pass of the full cut. A cut's DataFrame is built outside
    the timed region, so a cut times its execution only; building the
    full cut (python plan construction and analysis) is timed apart as
    ``build``. Each cut's jobs run in a job group named after it."""
    noop(cuts["full"]())
    walls: dict[str, list[float]] = {}
    for _ in range(CUT_REPS):
        for name, build in cuts.items():
            spark.sparkContext.setJobGroup(name, name)
            t = time.perf_counter()
            df = build()
            if name == "full":
                walls.setdefault("build", []).append(time.perf_counter() - t)
            walls.setdefault(name, []).append(measure.timed(lambda: noop(df))["wall_s"])
    return {k: statistics.median(v) for k, v in walls.items()}


def useful_frac(result: DataFrame) -> float:
    """Share of model-scored docs that no native hard rule had already
    dropped."""
    from metadata_quality_stack_spark import config

    native_hard = [
        r["id"] for r in config.RULES_BY_PROFILE["webtext"]
        if r["id"] in config.HARD_RULES and r["kind"] != "model"
    ]
    failed = F.arrays_overlap(F.col("drop_reasons"), F.array(*[F.lit(r) for r in native_hard]))
    n, bad = result.agg(F.count("*"), F.sum(failed.cast("long"))).first()
    return 1.0 - bad / n


def batch_s_per_kdoc(texts: pd.Series) -> dict[str, float]:
    """get_model().score_batch on one BATCH_DOCS batch, single core."""
    from metadata_quality_stack_spark.functions import langid, perplexity

    batch = pd.Series(np.resize(texts.to_numpy(), BATCH_DOCS))
    out = {}
    for name, mod in (("langid", langid), ("perplexity", perplexity)):
        model = mod.get_model()
        model.score_batch(batch.iloc[:100])
        walls = [measure.timed(lambda: model.score_batch(batch))["wall_s"] for _ in range(CUT_REPS)]
        out[f"functions.{name}.batch_s_per_kdoc"] = statistics.median(walls) / (BATCH_DOCS / 1000)
    return out


def udf_bytes(log: dict, group: str) -> tuple[float, float]:
    jobs = group_jobs(log, group)
    return stage_sum(log, jobs, TO_PY) / CUT_REPS, stage_sum(log, jobs, FROM_PY) / CUT_REPS


# ------------------------------------------------------------ workloads


def score_ledger(wl: Score, spark: SparkSession, evlog: EventLog, m: dict) -> None:
    from metadata_quality_stack_spark.sources.pages import extract_text_column

    def scan():
        return spark.read.parquet(wl.path).select("url", "lang", "html")

    def extract():
        return scan().withColumn("text", extract_text_column(F.col("html"))).drop("html")

    cut = time_cuts(spark, {"scan": scan, "extract": extract, **pipeline_cuts(extract, ("url",))})
    m["plans.pipeline.model_useful_frac"] = useful_frac(wl.pipeline(spark))
    m.update(batch_s_per_kdoc(wl.pdf["text"]))
    spark.stop()
    log = evlog.new_apps()[-1]
    m["plans.pipeline.udf_bytes_to_python"], m["plans.pipeline.udf_bytes_from_python"] = udf_bytes(log, "models")
    m.update({
        "scan.s": cut["scan"],
        "sources.pages.extract_s": cut["extract"] - cut["scan"],
        "plans.pipeline.build_s": cut["build"],
        "plans.pipeline.model_scores_s": cut["models"] - cut["extract"],
        "plans.pipeline.arrow_passthrough_s": cut["passthrough"] - cut["extract"],
        "operators.rules.s": cut["rules"] - cut["models"],
        "functions.scrub.s": cut["full"] - cut["rules"],
    })


def score_local1(wl: Score, m: dict, docs_per_s_4: float) -> None:
    """A score pass at local[1] on an eighth of the input files, after
    one warm pass."""
    spark = session(master="local[1]")
    files = sorted(glob.glob(os.path.join(wl.path, "*.parquet")))[: len(os.listdir(wl.path)) // 8]
    pages = spark.read.parquet(*files)
    n = pages.count()
    noop(wl.pipeline(spark, pages))
    wall = measure.timed(lambda: noop(wl.pipeline(spark, pages)))["wall_s"]
    m["score.local1_docs_per_s"] = n / wall
    m["score.scaling_1_to_4"] = docs_per_s_4 / (4 * m["score.local1_docs_per_s"])
    spark.stop()


def ingest_job_ledger(wl: Ingest, evlog: EventLog, m: dict, rec: dict) -> tuple[float, float]:
    """One untraced and one traced job.main() call, each starting its
    own session inside the timed region. The traced one is split by SQL
    execution: the sink write, the commit read-back, the
    partition_metrics writes. Returns the (untraced, traced) walls."""
    untraced = measure.timed(lambda: wl.job(wl.out_dir("untraced")))["wall_s"]
    out = wl.out_dir("traced")
    traced = measure.timed(lambda: (evlog.session(), wl.job(out)))["wall_s"]
    log = evlog.new_apps()[-1]
    parts = {"write": 0.0, "readback": 0.0, "metrics": 0.0}
    write_jobs = []
    for ex_id, ex in log["execs"].items():
        kind = "readback"
        if "InsertIntoHadoopFsRelationCommand" in ex["plan"]:
            kind = "metrics" if "/_metrics/" in ex["plan"] else "write"
        parts[kind] += (ex["t1"] - ex["t0"]) / 1000
        if kind == "write":
            write_jobs += [j for j, v in log["jobs"].items() if v["exec"] == ex_id]
    # the write's last stage runs after the (bucket, salt) exchange
    write_stages = sorted({s for j in write_jobs for s in log["jobs"][j]["stages"]} & log["tasks"].keys())
    rec["write_stage_tasks"] = [log["tasks"][s] for s in write_stages]
    data = glob.glob(os.path.join(out, "bucket=*", "**", "*.parquet"), recursive=True)
    every = [p for p in glob.glob(os.path.join(out, "**"), recursive=True) if os.path.isfile(p)]
    m.update({
        "job.session_s": traced - wl.job_stats[-1]["elapsed_s"],
        "sources.sink.write_job_s": parts["write"],
        "sources.sink.write_tasks": rec["write_stage_tasks"][-1],
        "sources.sink.commit_readback_s": parts["readback"],
        "plans.pipeline.partition_metrics_s": parts["metrics"],
        "sources.sink.shuffle_bytes": stage_sum(log, write_jobs, SHUFFLE_WRITE),
        "plans.pipeline.udf_bytes_to_python": stage_sum(log, write_jobs, TO_PY),
        "plans.pipeline.udf_bytes_from_python": stage_sum(log, write_jobs, FROM_PY),
        "sources.sink.files": len(data),
        "sources.sink.out_bytes_per_doc": sum(os.path.getsize(p) for p in every) / wl.docs,
    })
    return untraced, traced


def ingest_cuts(wl: Ingest, spark: SparkSession, m: dict) -> None:
    """job.py's transform without the exchange and the write."""
    from metadata_quality_stack_spark.operators.urlops import _h60_url, blocklist_filter, normalize_url
    from metadata_quality_stack_spark.sources.sink import read_results

    id_cols = ("url", "url_norm", "content_h", "warc_ts")

    def scan():
        return spark.read.parquet(wl.path).select("url", "warc_ts", "text", "lang")

    def urlops():
        return blocklist_filter(
            scan().withColumn("url_norm", normalize_url(F.col("url")))
            .withColumn("content_h", _h60_url(F.col("text"))),
            [inputs.BLOCKED_DOMAIN],
        )

    cut = time_cuts(spark, {"scan": scan, "urlops": urlops, **pipeline_cuts(urlops, id_cols)})
    m.update({
        "scan.s": cut["scan"],
        "operators.urlops.s": cut["urlops"] - cut["scan"],
        "plans.pipeline.build_s": cut["build"],
        "plans.pipeline.model_scores_s": cut["models"] - cut["urlops"],
        "plans.pipeline.arrow_passthrough_s": cut["passthrough"] - cut["urlops"],
        "operators.rules.s": cut["rules"] - cut["models"],
        "functions.scrub.s": cut["full"] - cut["rules"],
    })
    out = wl.outputs[-1]
    m["sources.sink.read_results_s"] = statistics.median(
        measure.timed(lambda: noop(read_results(spark, out)))["wall_s"] for _ in range(CUT_REPS)
    )
    m["plans.pipeline.model_useful_frac"] = useful_frac(read_results(spark, out))
    m.update(batch_s_per_kdoc(wl.pdf["text"]))


def curate_ledger(work: str, seed: int, spark: SparkSession, evlog: EventLog, m: dict) -> list[str]:
    """curate() (quality + exact dedup), fuzzy_dedup_keep over the exact
    survivors, decontaminate, and the whole curation_recipe, each timed
    once after a recipe pass over a small slice, on a corpus with stated
    copy shares."""
    from metadata_quality_stack_spark.operators.analytics import DOC_META
    from metadata_quality_stack_spark.operators.contamination import decontaminate
    from metadata_quality_stack_spark.operators.dedup import fuzzy_dedup_keep, minhash_candidate_pairs
    from metadata_quality_stack_spark.operators.rules import apply_quality
    from metadata_quality_stack_spark.plans.curate import curate, curation_recipe
    from workloads import write_parquet

    pdf = inputs.corpus_table(seed, CURATE_UNIQUE, EXACT_SHARE, NEAR_SHARE)
    path, surv_path = os.path.join(work, "curate_docs"), os.path.join(work, "curate_surv")
    write_parquet(pdf[CORPUS_COLS], path)
    docs = spark.read.parquet(path)
    noop(curation_recipe(docs.limit(CURATE_WARM_DOCS), meta_cols=DOC_META))

    exact = curate(docs, meta_cols=DOC_META)
    kept = apply_quality(docs, meta_cols=DOC_META).agg(F.sum(F.col("keep").cast("long"))).first()[0]
    survivors = {r["doc_id"] for r in exact.select("doc_id").collect()}
    docs.join(exact.select("doc_id"), "doc_id", "semi").write.mode("overwrite").parquet(surv_path)
    surv = spark.read.parquet(surv_path)

    def timed_in(group, fn):
        spark.sparkContext.setJobGroup(group, group)
        return measure.timed(fn)["wall_s"]

    # the fuzzy and recipe cuts collect their small outputs (~16 B/doc
    # keep mask, ~400 curated rows) instead of a noop; the checks use them
    labels, recipe_rows = [], []
    t_exact = timed_in("curate.exact", lambda: noop(curate(docs, meta_cols=DOC_META)))
    t_fuzzy = timed_in("curate.fuzzy", lambda: labels.extend(fuzzy_dedup_keep(surv).collect()))
    t_decon = timed_in("curate.decontaminate", lambda: noop(decontaminate(docs)))
    t_recipe = timed_in(
        "curate.recipe",
        lambda: recipe_rows.extend(curation_recipe(docs, meta_cols=DOC_META).collect()),
    )
    spark.sparkContext.setJobGroup("curate.counts", "curate.counts")
    fuzzy_removed = sum(not r["keep"] for r in labels)
    pairs = minhash_candidate_pairs(surv).count()
    spark.stop()
    log = evlog.new_apps()[-1]
    recipe_jobs = group_jobs(log, "curate.recipe")
    m.update({
        "plans.curate.score_exact_s": t_exact,
        "plans.curate.exact_removed_frac": (kept - len(survivors)) / kept,
        "operators.dedup.fuzzy_s": t_fuzzy,
        "operators.dedup.rounds": len(group_jobs(log, "curate.fuzzy")),
        "operators.dedup.candidate_pairs": pairs,
        "operators.dedup.removed_per_pair": fuzzy_removed / pairs if pairs else 0.0,
        "operators.contamination.decontaminate_s": t_decon,
        "curate.shuffle_bytes": stage_sum(log, recipe_jobs, SHUFFLE_WRITE),
        "curate.spill_bytes": stage_sum(log, recipe_jobs, *SPILL),
        "curate.join_split_s": t_recipe - t_exact - t_fuzzy - t_decon,
    })
    problems = []
    if not {r["doc_id"] for r in recipe_rows} <= survivors:
        problems.append("curation_recipe kept doc_ids that exact dedup removed")
    if not 0 < fuzzy_removed < len(survivors):
        problems.append(f"fuzzy dedup removed {fuzzy_removed} of {len(survivors)} survivors")
    return problems


def traced(wl) -> tuple[dict, dict, int, int]:
    """One untraced and one traced end-to-end pass, then the workload's
    layer ledger; returns (record, per-layer metrics, attempted, failed)."""
    import run

    evlog = EventLog(os.path.join(os.path.dirname(wl.work), "eventlog"))
    m = {k: 0.0 for k in LAYER_UNITS}
    spark, rec = run.setup(wl)
    problems = []
    if isinstance(wl, Score):
        untraced = measure.timed(lambda: wl.run(spark, 0))["wall_s"]
        spark.stop()
        spark = evlog.session()
        spark.sparkContext.setJobGroup("e2e", "e2e")
        wl.run(spark, 1)  # the new context starts fresh python workers
        traced_wall = measure.timed(lambda: wl.run(spark, 2))["wall_s"]
        score_ledger(wl, spark, evlog, m)
        score_local1(wl, m, wl.docs / untraced)
    else:
        untraced, traced_wall = ingest_job_ledger(wl, evlog, m, rec)
        spark = evlog.session()
        ingest_cuts(wl, spark, m)
        problems += curate_ledger(wl.work, wl.seed, spark, evlog, m)
    spark = session()
    problems += wl.check(spark)
    m["trace.wall_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - untraced
    layer_sum = sum(m[k] for k in LAYER_SUMS[wl.name])
    m["trace.layer_sum_gap"] = abs(layer_sum - traced_wall) / traced_wall
    attempted = 2
    failed = attempted if problems else 0
    rec.update(
        docs=wl.docs, untraced_wall_s=untraced, traced_wall_s=traced_wall,
        layer_sum_s=layer_sum, problems=problems,
        output_checksum=getattr(wl, "output_checksum", None),
    )
    metrics = {k: {"value": m[k], "unit": u} for k, u in LAYER_UNITS.items()}
    return rec, metrics, attempted, failed
