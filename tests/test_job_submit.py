"""Packaging/deploy test: the engine ships as a --py-files zip and runs
end-to-end through spark-submit (north rule: "run via spark-submit
--py-files"), producing the resumable manifest + metrics sidecar.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_pyfiles_job(spark, tmp_path):
    sys.path.insert(0, REPO)
    from metadata_quality_stack_spark.sources.pages import generate_pages
    from tools.build_pyfiles import build

    zip_path = build(str(tmp_path / "engine.zip"))
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pdf = generate_pages(120, seed=5).drop(columns=["row_class"])
    spark.createDataFrame(pdf).repartition(2).write.parquet(pages_dir)
    n_blocked = sum(pdf.url.str.contains("//medium.example.org/"))
    assert n_blocked > 0
    bl_path = str(tmp_path / "blocked.txt")
    with open(bl_path, "w") as f:
        f.write("medium.example.org\n\n")  # blank line must be ignored

    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--py-files", zip_path,
            os.path.join(REPO, "job.py"),
            "--input", pages_dir, "--output", out_dir, "--buckets", "4",
            "--blocklist", bl_path, "--curate", str(tmp_path / "curated"),
            "--filter-bank", str(tmp_path / "bank"),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(
        [line for line in proc.stdout.splitlines() if line.startswith("{")][-1]
    )
    assert stats["rows"] == 120 - n_blocked  # blocked domain never scored
    assert 0 < stats["kept"] < 120 - n_blocked
    manifest = json.load(open(os.path.join(out_dir, "_manifest.json")))
    assert len(manifest) == 4
    result = spark.read.parquet(os.path.join(out_dir, "bucket=*"))
    assert result.count() == 120 - n_blocked
    # the metrics sidecar is one JSON file; its totals agree with the
    # stats line and its drop reasons with the manifest's commit read-back
    assert os.listdir(os.path.join(out_dir, "_metrics")) == ["partition_metrics.json"]
    sidecar = json.load(open(os.path.join(out_dir, "_metrics", "partition_metrics.json")))
    assert sidecar["scrub_totals"]["docs_total"] == stats["rows"]
    assert sidecar["scrub_totals"]["docs_kept"] == stats["kept"]
    manifest_reasons = {}
    for entry in manifest.values():
        for reason, n in entry.get("drop_reasons", {}).items():
            manifest_reasons[reason] = manifest_reasons.get(reason, 0) + n
    assert manifest_reasons
    assert {r["reason"]: r["n_docs"] for r in sidecar["drop_reasons"]} == manifest_reasons
    # the blocked domain never reaches the results table
    from pyspark.sql import functions as F

    # --curate ran the full recipe and wrote a split-partitioned manifest
    curated = spark.read.parquet(str(tmp_path / "curated"))
    assert stats["curated"] == curated.count() > 0
    assert stats["curated"] <= stats["kept"]  # recipe only ever drops
    assert set(stats["curated_splits"]) <= {"train", "val", "test"}
    assert {"doc_id", "url_norm", "split", "total_score"} <= set(curated.columns)
    # blocked domain can't resurface through the curation path either
    assert curated.filter(
        F.col("url_norm").contains("medium.example.org")
    ).count() == 0
    assert (
        result.filter(F.col("url").contains("//medium.example.org/")).count()
        == 0
    )
    # --filter-bank wrote per-doc family flags + the keep-rate sidecar
    bank = spark.read.parquet(str(tmp_path / "bank"))
    assert bank.count() == 120 - n_blocked
    fam = {"gopher_keep", "c4_keep", "moji_keep", "lex_keep",
           "script_keep", "stopword_keep", "keep"}
    assert fam <= set(bank.columns)
    assert "filter_bank" in stats
    rates = stats["filter_bank"]
    bank_metrics = os.path.join(str(tmp_path / "bank"), "_metrics")
    assert os.listdir(bank_metrics) == ["keep_rates.json"]
    assert json.load(open(os.path.join(bank_metrics, "keep_rates.json"))) == rates
    assert rates["n_docs"] == 120 - n_blocked
    # AND-composition invariant holds in the recorded rates
    assert rates["n_keep"] <= min(
        rates[f"n_{c}"] for c in fam if c != "keep"
    )
    # commit buckets are keyed on the CANONICAL url: every row's bucket
    # dir must equal pmod(xxhash64(url_norm), buckets), so recrawl
    # variants of one page can never split across commit buckets
    result2 = spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "bucket=*")
    )
    assert "url_norm" in result2.columns
    mismatched = result2.filter(
        F.pmod(F.xxhash64(F.col("url_norm")), F.lit(4)) != F.col("bucket")
    ).count()
    assert mismatched == 0


def test_job_no_page_survives_filters(spark, tmp_path):
    """A lang filter that matches no page commits a manifest of empty
    buckets; the run still exits 0, records its snapshot and writes a
    sidecar with empty histograms and zero totals. Runs ``python job.py``
    in a subprocess because job.main stops its session."""
    sys.path.insert(0, REPO)
    from metadata_quality_stack_spark.sources.pages import generate_pages

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pdf = generate_pages(40, seed=3).drop(columns=["row_class"])
    spark.createDataFrame(pdf).repartition(2).write.parquet(pages_dir)
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "job.py"), "--input", pages_dir,
         "--output", out_dir, "--buckets", "2", "--lang-filter", "xx"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(
        [line for line in proc.stdout.splitlines() if line.startswith("{")][-1]
    )
    assert stats["rows"] == 0 and stats["kept"] == 0
    manifest = json.load(open(os.path.join(out_dir, "_manifest.json")))
    assert sorted(manifest) == ["0", "1"]
    snapshots = json.load(open(os.path.join(out_dir, "_snapshots.json")))
    assert [s["buckets"] for s in snapshots] == [[0, 1]]
    assert stats["snapshot_id"] == snapshots[0]["snapshot_id"]
    sidecar = json.load(open(os.path.join(out_dir, "_metrics", "partition_metrics.json")))
    assert sidecar["lang_histogram"] == sidecar["rating_histogram"] == []
    assert sidecar["drop_reasons"] == []
    assert set(sidecar["scrub_totals"].values()) == {0}


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_merge_recrawl(spark, tmp_path):
    """Production recrawl loop: build the store with one spark-submit
    run, merge a second crawl (one changed page) with --merge; only the
    dirty bucket is rewritten, the updated row is visible, and the
    pinned snapshot-0 read still returns the original row."""
    sys.path.insert(0, REPO)
    import pandas as pd

    from metadata_quality_stack_spark.sources.pages import generate_pages
    from tools.build_pyfiles import build

    zip_path = build(str(tmp_path / "engine.zip"))
    pdf = generate_pages(60, seed=9).drop(columns=["row_class"])
    pages_v1 = str(tmp_path / "pages_v1")
    pages_v2 = str(tmp_path / "pages_v2")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(pdf).repartition(2).write.parquet(pages_v1)
    target_url = pdf.url.iloc[7]
    pdf2 = pdf.copy()
    new_text = "Recrawled body with different words and a sentence here."
    pdf2.loc[pdf2.url == target_url, "text"] = new_text
    pdf2.loc[pdf2.url == target_url, "html"] = None
    spark.createDataFrame(pdf2).repartition(2).write.parquet(pages_v2)

    def submit(extra):
        return subprocess.run(
            ["spark-submit", "--master", "local[4]", "--py-files", zip_path,
             os.path.join(REPO, "job.py"), "--output", out_dir,
             "--buckets", "4"] + extra,
            capture_output=True, text=True, cwd=str(tmp_path), timeout=600,
        )

    p1 = submit(["--input", pages_v1])
    assert p1.returncode == 0, p1.stderr[-2000:]
    import os as _os

    base_files = {
        d: sorted(_os.listdir(_os.path.join(out_dir, d)))
        for d in _os.listdir(out_dir) if d.startswith("bucket=")
    }
    p2 = submit(["--input", pages_v2, "--merge"])
    assert p2.returncode == 0, p2.stderr[-2000:]
    stats = json.loads(
        [line for line in p2.stdout.splitlines() if line.startswith("{")][-1]
    )
    assert len(stats["dirty_buckets"]) >= 1
    # table reads go through the data roots, not bucket=* globs, so no
    # _spark_metadata probe logs a FileNotFoundException trace
    for p in (p1, p2):
        assert "FileStreamSink" not in p.stderr, p.stderr[-2000:]

    from pyspark.sql import functions as F

    from metadata_quality_stack_spark.sources.sink import read_results

    # base bucket dirs untouched on disk
    for d, files in base_files.items():
        assert sorted(_os.listdir(_os.path.join(out_dir, d))) == files, d
    latest = read_results(spark, out_dir)
    row = latest.filter(F.col("url") == target_url).collect()
    assert len(row) == 1 and row[0]["scrubbed_text"].startswith("Recrawled body")
    pinned = read_results(spark, out_dir, snapshot=0)
    old = pinned.filter(F.col("url") == target_url).collect()
    assert len(old) == 1 and not old[0]["scrubbed_text"].startswith(
        "Recrawled body"
    )
    # the sidecar covers the whole merged table, carried buckets included
    sidecar = json.load(open(os.path.join(out_dir, "_metrics", "partition_metrics.json")))
    assert sidecar["scrub_totals"]["docs_total"] == latest.count()
    # every other url's row carried over exactly
    a = {r["url"]: r["total_score"] for r in pinned.collect()}
    b = {r["url"]: r["total_score"] for r in latest.collect()}
    assert {u: s for u, s in a.items() if u != target_url} == {
        u: s for u, s in b.items() if u != target_url
    }


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_curate_langless(spark, tmp_path):
    """ADVICE r4 (medium): job.py --curate on a pages table WITHOUT a
    lang column (job.py adds lang to meta_cols only when present) must
    run end-to-end — the recipe projects an explicit null lang instead
    of failing with an unresolved-column AnalysisException after the
    scoring work is done."""
    sys.path.insert(0, REPO)
    from metadata_quality_stack_spark.sources.pages import generate_pages
    from tools.build_pyfiles import build

    zip_path = build(str(tmp_path / "engine.zip"))
    pdf = generate_pages(80, seed=11).drop(columns=["row_class", "lang"])
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(pdf).repartition(2).write.parquet(pages_dir)

    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--py-files", zip_path,
            os.path.join(REPO, "job.py"),
            "--input", pages_dir, "--output", out_dir, "--buckets", "2",
            "--curate", str(tmp_path / "curated"),
            "--filter-bank", str(tmp_path / "bank"),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(
        [line for line in proc.stdout.splitlines() if line.startswith("{")][-1]
    )
    assert stats["rows"] == 80
    assert stats["curated"] > 0
    from pyspark.sql import functions as F

    curated = spark.read.parquet(str(tmp_path / "curated"))
    assert curated.count() == stats["curated"]
    # lang rides through as an explicit null column, shape-stable
    assert "lang" in curated.columns
    assert curated.filter(F.col("lang").isNotNull()).count() == 0
