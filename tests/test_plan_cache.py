"""quality_pipeline builds its select-lists once per process and reuses
them (plans.pipeline.pipeline_selects, session.jvm_cached).

* a cached build costs a bounded number of py4j round trips,
* cached and uncached builds are the same plan and the same output,
  also after ``spark.stop()`` and a new session in the same JVM, and
  two outputs built from the same cached Columns still self-join.
"""

import json
import os
import subprocess
import sys
import threading

import py4j.clientserver

from metadata_quality_stack_spark.plans.pipeline import quality_pipeline
from metadata_quality_stack_spark.sources.pages import generate_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a rebuild sends ~6,400 commands; a cached call ~170 (the select-list
# conversions and one schema fetch)
PY4J_BUDGET = 300


def _write_pages(path: str, n: int, seed: int) -> None:
    pdf = generate_pages(n, seed=seed)[["url", "html", "lang"]]
    os.makedirs(path)
    pdf.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def test_cached_build_py4j_budget(spark, tmp_path):
    path = str(tmp_path / "pages")
    _write_pages(path, 20, seed=2)
    quality_pipeline(spark.read.parquet(path), id_cols=("url",), lang_col="lang")
    df = spark.read.parquet(path)

    send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.get_ident()
    sent = [0]

    def counting(self, command):
        # the finalizer thread's object deletes are not the build's
        if threading.get_ident() == me:
            sent[0] += 1
        return send(self, command)

    py4j.clientserver.ClientServerConnection.send_command = counting
    try:
        quality_pipeline(df, id_cols=("url",), lang_col="lang")
    finally:
        py4j.clientserver.ClientServerConnection.send_command = send
    assert 0 < sent[0] <= PY4J_BUDGET, sent[0]


CHILD = r"""
import hashlib, json, re, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from metadata_quality_stack_spark.plans.pipeline import (
    model_scores_column, pipeline_selects, quality_pipeline)

def session():
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    return s

def build(spark):
    return quality_pipeline(spark.read.parquet(sys.argv[2]),
                            id_cols=("url",), lang_col="lang")

def record(df):
    rows = sorted(repr(r) for r in df.collect())
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return {"sum": hashlib.md5("\n".join(rows).encode()).hexdigest(),
            "rows": len(rows),
            # strip exprIds and the generated names of common subexpressions
            "plan": re.sub(r"#\d+L?|plan_id=\d+|(?<=_common_expr_)\d+", "", plan)}

spark = session()
first, cached = build(spark), build(spark)
out = {"first": record(first), "cached": record(cached),
       "self_join": first.alias("a").join(cached.alias("b"), "url").count(),
       "union": first.unionByName(cached).count()}
spark.stop()
spark = session()
out["restarted"] = record(build(spark))
out["plans"] = pipeline_selects.cache_info()._asdict()
out["udfs"] = model_scores_column.cache_info()._asdict()
spark.stop()
print(json.dumps(out))
"""


def test_cached_and_uncached_builds_are_equivalent(tmp_path):
    """Runs in a subprocess: it stops its session, which the shared
    fixture must survive."""
    path = str(tmp_path / "pages")
    _write_pages(path, 40, seed=6)
    script = tmp_path / "child.py"
    script.write_text(CHILD)
    pythonpath = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, str(script), REPO, path],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": pythonpath},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    first, cached, restarted = out["first"], out["cached"], out["restarted"]
    assert first["rows"] == 40
    assert first["sum"] == cached["sum"] == restarted["sum"]
    assert first["plan"] == cached["plan"] == restarted["plan"]
    assert out["self_join"] == 40 and out["union"] == 80
    # one build of the plan for all three calls; the model UDF Column
    # once per SparkContext
    assert (out["plans"]["misses"], out["plans"]["hits"]) == (1, 2)
    assert (out["udfs"]["misses"], out["udfs"]["hits"]) == (2, 1)
