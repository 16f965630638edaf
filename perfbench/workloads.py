"""The benchmark workloads and their output checks.

Each workload writes its seeded input once (``build``), runs fixed
warm-up passes (``warm``), then repeats ``run`` while the benchmark
times it, at least ``PASSES`` times. ``check`` compares outputs against
the repo's oracles and returns a list of failures; it never runs inside
a timed region.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from metadata_quality_stack_spark import get_spark

MASTER = "local[4]"
INPUT_FILES = 16
ORACLE_SAMPLE = 240  # urls compared against oracle.scoring.score_pandas
SCORE_COLS = [
    "keep", "rating", "total_score",
    "scrub_count", "scrub_email_count", "scrub_ip_count", "scrub_phone_count",
]


def session(event_log_dir: str | None = None, master: str = MASTER) -> SparkSession:
    """The repo's session (``get_spark``) on ``master``; the Spark event
    log is on only when ``event_log_dir`` is given."""
    b = SparkSession.builder.master(master).config("spark.ui.enabled", "false")
    if event_log_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    else:
        b = b.config("spark.eventLog.enabled", "false")
    b.getOrCreate()
    return get_spark(master=master)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum(df: DataFrame) -> str:
    """Order-independent digest of every row: count and the sum of the
    rows' xxhash64 (as decimal, so the sum cannot overflow)."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    r = df.agg(F.count("*").alias("n"), F.sum(h.cast("decimal(20,0)")).alias("s")).first()
    return f"{r['n']}:{r['s']}"


def write_parquet(pdf, path: str, n_files: int = INPUT_FILES) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _utc(pdf):
    pdf = pdf.copy()
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    return pdf


def oracle_mismatches(spark_rows: dict, sample) -> list[str]:
    """Compare the pipeline's label columns for the sampled urls with
    ``oracle.scoring.score_pandas`` over the same text."""
    from metadata_quality_stack_spark.oracle.scoring import score_pandas

    want = score_pandas(sample.reset_index(drop=True), text_col="text", lang_col="lang")
    bad = []
    for url, (_, exp) in zip(sample["url"], want.iterrows()):
        got = spark_rows.get(url)
        if got is None:
            bad.append(f"{url}: missing from output")
            continue
        for c in SCORE_COLS:
            if got[c] != exp[c]:
                bad.append(f"{url}: {c} {got[c]!r} != oracle {exp[c]!r}")
    return bad


class Workload:
    name = ""
    docs = 0
    PASSES = 2

    def __init__(self, work: str, seed: int) -> None:
        self.work = os.path.join(work, self.name)
        self.seed = seed
        os.makedirs(self.work, exist_ok=True)

    def build(self) -> dict:
        """Generate and write the seeded input; returns the table stats."""
        raise NotImplementedError

    def warm(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def run(self, spark: SparkSession, i: int) -> None:
        raise NotImplementedError

    def check(self, spark: SparkSession) -> list[str]:
        raise NotImplementedError


class Score(Workload):
    """Pages without a text column -> quality_pipeline -> noop sink."""

    name = "score"
    N_UNIQUE, REPLICAS, WARM_PASSES = 2000, 4, 3
    # CPU per pass still falls over the first passes of a JVM, so every
    # run should measure the same passes: three ~4 s passes outlast the
    # benchmark's --seconds
    PASSES = 3

    def build(self) -> dict:
        self.pdf = inputs.pages_table(self.seed, self.N_UNIQUE, self.REPLICAS)
        self.docs = len(self.pdf)
        self.path = os.path.join(self.work, "pages")
        write_parquet(_utc(self.pdf[["url", "warc_ts", "html", "lang"]]), self.path)
        return inputs.table_stats(self.pdf, inputs.domain(self.pdf["url"]))

    def pipeline(self, spark: SparkSession, pages: DataFrame | None = None) -> DataFrame:
        from metadata_quality_stack_spark.plans.pipeline import quality_pipeline

        pages = spark.read.parquet(self.path) if pages is None else pages
        return quality_pipeline(pages, id_cols=("url",), lang_col="lang")

    def warm(self, spark: SparkSession) -> None:
        # the warm-up passes digest the full output, so determinism is
        # checked by passes that run anyway
        self.sums = [checksum(self.pipeline(spark)) for _ in range(self.WARM_PASSES)]

    def run(self, spark: SparkSession, i: int) -> None:
        noop(self.pipeline(spark))

    def check(self, spark: SparkSession) -> list[str]:
        bad = []
        if len(set(self.sums)) != 1:
            bad.append(f"output checksum changed between passes: {self.sums}")
        self.output_checksum = self.sums[0]
        sample = self.pdf.iloc[:: max(1, self.docs // ORACLE_SAMPLE)]
        pages = spark.read.parquet(self.path).filter(F.col("url").isin(list(sample["url"])))
        rows = {r["url"]: r for r in self.pipeline(spark, pages).select("url", *SCORE_COLS).collect()}
        return bad + oracle_mismatches(rows, sample)


class Ingest(Workload):
    """job.main() in-process: url normalisation, content hash, blocklist,
    (bucket, salt) exchange, bucketed parquet write, manifest commit
    read-back and the partition_metrics jobs."""

    name = "ingest"
    # 12,000 pages put ~5.5 MB through the (bucket, salt) exchange, so
    # AQE keeps 4 post-exchange tasks; at 1,000 pages it coalesced them
    # into one and the pipeline after the exchange ran on one core
    N_UNIQUE, REPLICAS, WARM_PASSES = 3000, 4, 1
    BUCKETS, SALTS = 16, 4

    def build(self) -> dict:
        self.pdf = inputs.pages_table(self.seed, self.N_UNIQUE, self.REPLICAS)
        self.docs = len(self.pdf)
        self.blocked_docs = int((inputs.domain(self.pdf["url"]) == inputs.BLOCKED_DOMAIN).sum())
        self.path = os.path.join(self.work, "pages")
        write_parquet(_utc(self.pdf.drop(columns=["row_class"])), self.path)
        self.blocklist = os.path.join(self.work, "blocklist.txt")
        with open(self.blocklist, "w") as f:
            f.write(inputs.BLOCKED_DOMAIN + "\n")
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)
        self.outputs: list[str] = []
        self.job_stats: list[dict] = []
        stats = inputs.table_stats(self.pdf, inputs.domain(self.pdf["url"]))
        stats["blocked_docs"] = self.blocked_docs
        return stats

    def job(self, out: str) -> dict:
        """One ``job.main()`` call into ``out``; returns its stats line.
        job.main stops the session it runs in."""
        import job

        argv = [
            "job.py", "--input", self.path, "--output", out,
            "--buckets", str(self.BUCKETS), "--salts", str(self.SALTS),
            "--blocklist", self.blocklist,
        ]
        saved, sys.argv = sys.argv, argv
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                job.main()
        finally:
            sys.argv = saved
        stats = json.loads(buf.getvalue().strip().splitlines()[-1])
        self.outputs.append(out)
        self.job_stats.append(stats)
        return stats

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.work, "out", tag)

    def warm(self, spark: SparkSession) -> None:
        for k in range(self.WARM_PASSES):
            self.job(self.out_dir(f"warm{k}"))

    def run(self, spark: SparkSession, i: int) -> None:
        self.job(self.out_dir(f"run{i}"))

    def check(self, spark: SparkSession) -> list[str]:
        from metadata_quality_stack_spark.sources.sink import read_results

        bad, sums = [], set()
        want_rows = self.docs - self.blocked_docs
        for out, stats in zip(self.outputs, self.job_stats):
            res = read_results(spark, out)
            n, kept = res.agg(F.count("*"), F.sum(F.col("keep").cast("long"))).first()
            with open(os.path.join(out, "_manifest.json")) as f:
                entries = json.load(f).values()
            m_rows = sum(e["rows"] for e in entries)
            m_kept = sum(e["kept"] for e in entries)
            if (n, kept) != (m_rows, m_kept) or (n, kept) != (stats["rows"], stats["kept"]):
                bad.append(f"{out}: table {n}/{kept} vs manifest {m_rows}/{m_kept} "
                           f"vs job {stats['rows']}/{stats['kept']} (rows/kept)")
            if n != want_rows:
                bad.append(f"{out}: {n} rows, expected {want_rows} after the blocklist")
            sums.add(checksum(res))
        if len(sums) != 1:
            bad.append(f"output checksum differs between runs: {sorted(sums)}")
        self.output_checksum = sorted(sums)[0]
        sample = self.pdf.iloc[:: max(1, self.docs // ORACLE_SAMPLE)]
        sample = sample[inputs.domain(sample["url"]) != inputs.BLOCKED_DOMAIN]
        res = read_results(spark, self.outputs[-1]).filter(F.col("url").isin(list(sample["url"])))
        rows = {r["url"]: r for r in res.select("url", *SCORE_COLS).collect()}
        return bad + oracle_mismatches(rows, sample)


WORKLOADS = {w.name: w for w in (Score, Ingest)}
