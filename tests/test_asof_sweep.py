"""As-of join, threshold sweep, and source-language entropy."""

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators import analytics


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_matches_latest_prior_update(spark):
    updates = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), 10, 1.0),
            (1, _ts("2024-01-01T00:10:00"), 11, 2.0),
            (2, _ts("2024-01-01T00:05:00"), 20, 5.0),
        ],
        "user_id long, ts timestamp_ntz, id long, value double",
    )
    probes = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:05:00"), 100, 0.0),  # -> update 10
            (1, _ts("2024-01-01T00:10:00"), 101, 0.0),  # same-ts -> update 11
            (2, _ts("2024-01-01T00:01:00"), 200, 0.0),  # before any -> NULL
        ],
        "user_id long, ts timestamp_ntz, id long, value double",
    )
    out = {r["probe_id"]: r.asDict() for r in analytics.asof_join(probes, updates).collect()}
    assert out[100]["asof_id"] == 10
    assert out[100]["gap_us"] == 300_000_000
    assert out[101]["asof_id"] == 11 and out[101]["gap_us"] == 0
    assert out[200]["asof_id"] is None and out[200]["gap_us"] is None


def test_asof_join_single_shuffle(spark):
    updates = spark.createDataFrame(
        [(i % 5, _ts("2024-01-01T00:00:00"), i, 1.0) for i in range(50)],
        "user_id long, ts timestamp_ntz, id long, value double",
    )
    plan = (
        analytics.asof_join(updates, updates)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one exchange for the window partitioning, no join operator at all
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_threshold_sweep_counts(spark):
    scored = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate([0, 100, 200, 300, 350])],
        "doc_id long, total_score double",
    )
    rows = {r["threshold"]: r for r in analytics.threshold_sweep(scored).collect()}
    assert len(rows) == 15
    assert rows[0]["n_keep"] == 5 and rows[0]["keep_rate"] == 1.0
    assert rows[150]["n_keep"] == 3
    assert rows[350]["n_keep"] == 1 and rows[350]["keep_rate"] == pytest.approx(0.2)


def test_source_lang_entropy_values(spark):
    docs = spark.createDataFrame(
        [("a", "en"), ("a", "es"), ("b", "en"), ("b", "en")],
        "source string, lang string",
    )
    out = {r["source"]: r.asDict() for r in analytics.source_lang_entropy(docs).collect()}
    assert out["a"]["lang_entropy"] == pytest.approx(round(math.log(2), 6))
    assert out["a"]["n_langs"] == 2
    assert out["b"]["lang_entropy"] == 0.0 and out["b"]["n_docs"] == 2


def test_range_join_bins_exact_and_no_nested_loop(spark):
    pts = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00")),
            (2, _ts("2024-01-01T00:00:59")),
            (3, _ts("2024-01-01T00:01:00")),
            (4, _ts("2024-01-01T00:01:01")),
            (5, _ts("2024-01-01T00:05:00")),
        ],
        "id long, ts timestamp_ntz",
    )
    probes = spark.createDataFrame(
        [(100, _ts("2024-01-01T00:00:00"))], "id long, ts timestamp_ntz"
    )
    out = analytics.range_join_bins(probes, pts)
    got = {(r["probe_id"], r["point_id"]): r["dt_us"] for r in out.collect()}
    # +/-60s inclusive: ids 1,2,3 in range; 4 is 61s late, 5 far away
    assert got == {(100, 1): 0, (100, 2): 59_000_000, (100, 3): 60_000_000}
    # a pair matches exactly once (point lives in one bin) and the plan
    # is a real equi-join on the bin, not a nested loop
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
