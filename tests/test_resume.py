"""Kill-and-rerun resume test (SURVEY.md §5.2 item 6): inject a crash
mid-run, rerun, and require the final table to be identical to a
one-shot run — no duplicates, no holes. Crashes are injected with
``monkeypatch`` at the sink's commit steps (:func:`_crash_on_call`)."""

import shutil
import tempfile

import pytest

from metadata_quality_stack_spark.plans.pipeline import quality_pipeline
from metadata_quality_stack_spark.sources import sink
from metadata_quality_stack_spark.sources.pages import pages_spark_df
from metadata_quality_stack_spark.sources.sink import (
    SnapshotLog,
    SnapshotManifest,
    read_results,
    run_incremental,
)


def _transform(df):
    return quality_pipeline(df, id_cols=("url",), lang_col="lang", include_text=False)


def _crash_on_call(mp, owner, name: str, n: int) -> None:
    """Make ``owner.name`` raise ``RuntimeError("injected crash")`` from
    its ``n``-th call on; the calls before it run for real."""
    real = getattr(owner, name)
    calls = 0

    def crashing(*args, **kwargs):
        nonlocal calls
        calls += 1
        if calls >= n:
            raise RuntimeError("injected crash")
        return real(*args, **kwargs)

    mp.setattr(owner, name, crashing)


def test_kill_and_rerun_identical(spark, monkeypatch):
    docs = pages_spark_df(spark, n_rows=300, seed=13)
    one_shot_dir = tempfile.mkdtemp()
    resumed_dir = tempfile.mkdtemp()
    try:
        run_incremental(spark, docs, one_shot_dir, _transform, n_buckets=6)

        # the 3rd bucket commit crashes: 2 entries persist
        with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected crash"):
            _crash_on_call(mp, SnapshotManifest, "commit", 3)
            run_incremental(spark, docs, resumed_dir, _transform, n_buckets=6)
        m = SnapshotManifest(resumed_dir)
        assert len(m.entries) == 2  # partial progress persisted

        summary = run_incremental(spark, docs, resumed_dir, _transform, n_buckets=6)
        assert summary["rows"] == 300

        a = read_results(spark, one_shot_dir).orderBy("url").toPandas()
        b = read_results(spark, resumed_dir).orderBy("url").toPandas()
        a = a[sorted(a.columns)].reset_index(drop=True)
        b = b[sorted(b.columns)].reset_index(drop=True)
        assert len(a) == len(b) == 300
        assert a["url"].is_unique and b["url"].is_unique
        for c in a.columns:
            if c == "drop_reasons":
                assert [list(x) for x in a[c]] == [list(x) for x in b[c]]
            else:
                assert (a[c] == b[c]).all(), c
    finally:
        shutil.rmtree(one_shot_dir, ignore_errors=True)
        shutil.rmtree(resumed_dir, ignore_errors=True)


def test_single_scan_regardless_of_buckets(spark):
    """The sink must process all uncommitted buckets in ONE pass over the
    input: transform is invoked once, not once per bucket (the per-bucket
    full-rescan anti-pattern from round 1)."""
    docs = pages_spark_df(spark, n_rows=200, seed=23)
    out = tempfile.mkdtemp()
    calls = []

    def counting_transform(df):
        calls.append(1)
        return _transform(df)

    try:
        stats = run_incremental(
            spark, docs, out, counting_transform, n_buckets=8
        )
        assert stats["rows"] == 200
        assert len(calls) == 1
        # resume path: 3 committed, 5 remaining -> still one transform call
        m = SnapshotManifest(out)
        for b in (0, 1, 2):
            del m.entries[str(b)]
        m.commit(3, m.entries["3"])  # persist the trimmed manifest
        del calls[:]
        stats = run_incremental(
            spark, docs, out, counting_transform, n_buckets=8
        )
        assert stats["rows"] == 200
        assert len(calls) == 1
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_rerun_skips_completed(spark):
    docs = pages_spark_df(spark, n_rows=120, seed=17)
    out = tempfile.mkdtemp()
    try:
        run_incremental(spark, docs, out, _transform, n_buckets=4)
        m1 = SnapshotManifest(out).entries.copy()
        run_incremental(spark, docs, out, _transform, n_buckets=4)
        m2 = SnapshotManifest(out).entries
        assert m1 == m2  # second run did nothing (wall_s identical)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bounded_files_per_bucket(spark, tmp_path):
    """Small-files bound (VERDICT r2 #4): the sink's (bucket, salt)
    repartition means each bucket=<b>/ dir receives parquet files from at
    most n_salts tasks — NOT one file per write task per bucket. With 32
    shuffle partitions and 8 buckets the unbounded layout would emit up
    to 32 files per dir; the bound is n_salts=4."""
    import os

    docs = pages_spark_df(spark, n_rows=400, seed=29)
    out = str(tmp_path / "out")
    n_salts = 4
    stats = run_incremental(
        spark, docs, out, _transform, n_buckets=8, n_salts=n_salts
    )
    assert stats["rows"] == 400
    for d in os.listdir(out):
        if not d.startswith("bucket="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        assert 1 <= len(files) <= n_salts, (d, files)
    # resume after trimming the manifest still lands exact rows
    m = SnapshotManifest(out)
    for b in (0, 1):
        del m.entries[str(b)]
    m.commit(2, m.entries["2"])
    stats = run_incremental(
        spark, docs, out, _transform, n_buckets=8, n_salts=n_salts
    )
    assert stats["rows"] == 400
    assert read_results(spark, out).count() == 400


def test_day_partitioned_sink_prunes(spark, tmp_path):
    """partition_by layers day=... dirs inside each bucket; a day filter
    on the reader hits partition pruning (PartitionFilters in the scan)."""
    import io
    import os
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from metadata_quality_stack_spark.plans.pipeline import quality_pipeline
    from metadata_quality_stack_spark.sources.pages import pages_spark_df
    from metadata_quality_stack_spark.sources.sink import run_incremental

    pages = pages_spark_df(spark, 150, seed=17)
    out = str(tmp_path / "out")

    def transform(df):
        scored = quality_pipeline(df, id_cols=("url", "warc_ts"), lang_col="lang",
                                  include_text=False)
        return scored.withColumn("day", F.to_date("warc_ts"))

    stats = run_incremental(
        spark, pages, out, transform, n_buckets=4, partition_by="day"
    )
    assert stats["rows"] == 150
    bucket0 = os.path.join(out, "bucket=0")
    assert any(d.startswith("day=") for d in os.listdir(bucket0))
    # multiple partitioned roots need basePath; bucket + day both become
    # partition columns of the unified read
    result = spark.read.option("basePath", out).parquet(
        os.path.join(out, "bucket=*")
    )
    assert result.count() == 150
    one_day = result.select("day").first()["day"]
    buf = io.StringIO()
    with redirect_stdout(buf):
        result.filter(F.col("day") == F.lit(one_day)).explain("formatted")
    assert "PartitionFilters: [isnotnull(day" in buf.getvalue()


def test_read_pages_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    """Crawl dumps always contain mangled lines: they must degrade to
    quarantine rows, not fail the shard; html survives base64 round-trip."""
    import base64
    import json as json_mod

    from metadata_quality_stack_spark.sources.pages import read_pages_jsonl

    p = tmp_path / "dump.jsonl"
    rows = [
        {"url": "http://a.example/1", "warc_ts": "2024-01-05 10:00:00",
         "html_b64": base64.b64encode(b"<html>hi</html>").decode(),
         "text": "hi", "lang": "en"},
        {"url": "http://a.example/2", "warc_ts": "2024-01-05 11:00:00",
         "html_b64": None, "text": "bonjour le monde", "lang": "fr"},
    ]
    lines = [json_mod.dumps(r) for r in rows]
    lines.insert(1, '{"url": "http://bad.example/x", "text": "trunca')  # mangled
    p.write_text("\n".join(lines) + "\n")

    good, quarantined = read_pages_jsonl(spark, str(p))
    g = {r["url"]: r for r in good.collect()}
    assert set(g) == {"http://a.example/1", "http://a.example/2"}
    assert bytes(g["http://a.example/1"]["html"]) == b"<html>hi</html>"
    assert g["http://a.example/2"]["html"] is None
    q = quarantined.collect()
    assert len(q) == 1 and "trunca" in q[0]["_corrupt_record"]
    # the good side feeds the normal pipeline unchanged
    from metadata_quality_stack_spark.plans.pipeline import quality_pipeline

    out = quality_pipeline(good, id_cols=("url",), lang_col="lang",
                           include_text=False)
    assert out.count() == 2

def test_snapshot_time_travel(spark, tmp_path, monkeypatch):
    """Iceberg-style snapshot log: a crashed run appends NO snapshot
    (its partial buckets become visible only in the snapshot the resume
    completes); a completed run appends one; idempotent reruns don't
    grow the log; a pinned read resolves the snapshot's bucket set via
    PARTITION pruning so unpinned bucket dirs never reach the scan."""
    import io
    import os
    from contextlib import redirect_stdout

    docs = pages_spark_df(spark, n_rows=200, seed=21)
    out = str(tmp_path / "tt")

    with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected crash"):
        _crash_on_call(mp, SnapshotManifest, "commit", 3)
        run_incremental(spark, docs, out, _transform, n_buckets=6)
    # crash: partial manifest, but no snapshot — time travel can never
    # land on a half-written state
    assert len(SnapshotManifest(out).entries) == 2
    assert not os.path.exists(os.path.join(out, "_snapshots.json"))

    s = run_incremental(spark, docs, out, _transform, n_buckets=6)
    assert s["snapshot_id"] == 0
    log = SnapshotLog(out)
    assert [x["snapshot_id"] for x in log.snapshots] == [0]
    assert log.buckets_at(0) == list(range(6))

    # idempotent rerun of the finished table: same state, no new snapshot
    s2 = run_incremental(spark, docs, out, _transform, n_buckets=6)
    assert s2["snapshot_id"] == 0
    assert len(SnapshotLog(out).snapshots) == 1

    pinned = read_results(spark, out, snapshot=0)
    assert pinned.count() == 200
    buf = io.StringIO()
    with redirect_stdout(buf):
        pinned.explain()
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan

    with pytest.raises(ValueError, match="snapshot 7 not in log"):
        read_results(spark, out, snapshot=7).count()


# ---------------------------------------------------------------- merge
def _score_transform(df):
    """Toy scorer carrying the 60-bit content hash the merge keys on."""
    from pyspark.sql import functions as F

    from metadata_quality_stack_spark.functions.hashing import md5_int

    return df.select(
        "url",
        md5_int(F.col("text"), 15).alias("content_h"),
        F.length("text").cast("long").alias("total_score"),
        (F.length("text") > 10).alias("keep"),
    )


def _mk_pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_merge_rescore_rewrites_only_dirty_buckets(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from metadata_quality_stack_spark.sources.sink import merge_rescore

    out = str(tmp_path / "store")
    pages = _mk_pages(
        spark, [(f"u{i}", f"body of document number {i} stays") for i in range(40)]
    )
    run_incremental(
        spark, pages, out, _score_transform, key_col="url", n_buckets=8
    )
    before = {
        r.url: r.total_score
        for r in read_results(spark, out).select("url", "total_score").collect()
    }
    # snapshot of base bucket files (must NEVER change afterwards)
    base_files = {}
    for d in os.listdir(out):
        if d.startswith("bucket="):
            p = os.path.join(out, d)
            base_files[d] = sorted(
                (f, os.path.getmtime(os.path.join(p, f)))
                for f in os.listdir(p)
            )

    # new crawl: u1 changed, u40 added, u2 removed, everything else same
    rows = [
        (f"u{i}", f"body of document number {i} stays")
        for i in range(40)
        if i != 2 and i != 1
    ]
    rows += [("u1", "u1 has completely new content after the recrawl")]
    rows += [("u40", "a brand new page that was not in the first crawl")]
    res = merge_rescore(
        spark, out, _mk_pages(spark, rows), _score_transform, key_col="url"
    )
    assert res["dirty_buckets"], res
    # base files untouched (copy-on-write, not in-place)
    for d, files in base_files.items():
        p = os.path.join(out, d)
        assert sorted(
            (f, os.path.getmtime(os.path.join(p, f))) for f in os.listdir(p)
        ) == files, d

    after = {
        r.url: r.total_score
        for r in read_results(spark, out).select("url", "total_score").collect()
    }
    assert "u2" not in after and "u40" in after
    assert after["u1"] != before["u1"]
    for u, s in before.items():
        if u not in ("u1", "u2"):
            assert after[u] == s, u
    # time travel: snapshot 0 still reads exactly the pre-merge table
    pinned = {
        r.url: r.total_score
        for r in read_results(spark, out, snapshot=0)
        .select("url", "total_score")
        .collect()
    }
    assert pinned == before
    # idempotent re-merge of the same crawl: no dirty buckets, no snapshot
    res2 = merge_rescore(
        spark, out, _mk_pages(spark, rows), _score_transform, key_col="url"
    )
    assert res2["dirty_buckets"] == []
    assert res2["snapshot_id"] == res["snapshot_id"]


def test_merge_rescore_crash_before_commit_is_invisible(spark, tmp_path, monkeypatch):
    import os

    from metadata_quality_stack_spark.sources.sink import merge_rescore

    out = str(tmp_path / "store")
    pages = _mk_pages(
        spark, [(f"u{i}", f"original text for page {i} here") for i in range(20)]
    )
    run_incremental(
        spark, pages, out, _score_transform, key_col="url", n_buckets=4
    )
    before = sorted(
        tuple(r) for r in read_results(spark, out).select("url", "total_score").collect()
    )
    rows = [(f"u{i}", f"original text for page {i} here") for i in range(19)]
    rows += [("u19", "changed content for the crash test run")]
    # the snapshot-log append (the merge's commit) crashes after the
    # generation write
    with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected crash"):
        _crash_on_call(mp, SnapshotLog, "append", 1)
        merge_rescore(spark, out, _mk_pages(spark, rows), _score_transform, key_col="url")
    # orphan generation files exist but the log never references them
    assert os.path.isdir(os.path.join(out, "_rewrites", "g1"))
    assert len(SnapshotLog(out).snapshots) == 1
    assert sorted(
        tuple(r) for r in read_results(spark, out).select("url", "total_score").collect()
    ) == before
    # rerun completes cleanly over the orphaned generation dir
    res = merge_rescore(
        spark, out, _mk_pages(spark, rows), _score_transform, key_col="url"
    )
    assert res["dirty_buckets"]
    after = {
        r.url: r.total_score
        for r in read_results(spark, out).select("url", "total_score").collect()
    }
    assert after["u19"] == len("changed content for the crash test run")


def test_merge_rescore_chained_merges_time_travel(spark, tmp_path):
    """Two merges in sequence: every snapshot stays exactly readable."""
    from metadata_quality_stack_spark.sources.sink import merge_rescore

    out = str(tmp_path / "store")
    v0 = [(f"u{i}", f"first crawl body {i} with words") for i in range(12)]
    run_incremental(
        spark, _mk_pages(spark, v0), out, _score_transform, key_col="url",
        n_buckets=4,
    )
    v1 = [(u, t) for u, t in v0 if u != "u3"] + [("u3", "second crawl u3 new")]
    merge_rescore(spark, out, _mk_pages(spark, v1), _score_transform, key_col="url")
    v2 = [(u, t) for u, t in v1 if u != "u3"] + [("u3", "third crawl u3 newer!")]
    r2 = merge_rescore(spark, out, _mk_pages(spark, v2), _score_transform, key_col="url")

    def scores(snapshot=None):
        return {
            r.url: r.total_score
            for r in read_results(spark, out, snapshot=snapshot)
            .select("url", "total_score")
            .collect()
        }

    assert scores(0)["u3"] == len("first crawl body 3 with words")
    assert scores(1)["u3"] == len("second crawl u3 new")
    assert scores(2)["u3"] == len("third crawl u3 newer!")
    assert scores()["u3"] == len("third crawl u3 newer!")
    assert r2["snapshot_id"] == 2


def test_compact_and_expire_lifecycle(spark, tmp_path):
    """Compaction materializes the current mapping into one generation
    without changing any read; expiry drops old snapshots and deletes
    exactly the unreferenced generation dirs; a retained snapshot that
    only INHERITED a rewrite keeps reading it after the inheriting
    entries are expired."""
    import os

    from metadata_quality_stack_spark.sources.sink import (
        SnapshotLog,
        compact_results,
        expire_snapshots,
        merge_rescore,
    )

    out = str(tmp_path / "store")
    v0 = [(f"u{i}", f"crawl one body {i} with several words") for i in range(16)]
    run_incremental(
        spark, _mk_pages(spark, v0), out, _score_transform, key_col="url",
        n_buckets=4,
    )
    v1 = [(u, t) for u, t in v0 if u != "u5"] + [("u5", "crawl two u5 changed")]
    merge_rescore(spark, out, _mk_pages(spark, v1), _score_transform, key_col="url")

    def snap_scores(snapshot=None):
        return sorted(
            tuple(r)
            for r in read_results(spark, out, snapshot=snapshot)
            .select("url", "total_score")
            .collect()
        )

    latest_before = snap_scores()
    # compact: new snapshot (id 2), identical reads, ONE generation dir
    res = compact_results(spark, out)
    assert res["snapshot_id"] == 2 and res["rows"] == 16
    assert snap_scores() == latest_before
    assert snap_scores(1) == latest_before  # pre-compact merge snapshot
    assert os.path.isdir(os.path.join(out, "_rewrites", "g1"))
    assert os.path.isdir(os.path.join(out, "_rewrites", "g2"))

    # expire everything before the compaction: g1 (merge) is now
    # unreferenced and deleted; g2 survives; snapshot ids preserved
    exp = expire_snapshots(out, keep_from=2)
    assert exp["deleted_dirs"] == ["g1"]
    assert not os.path.isdir(os.path.join(out, "_rewrites", "g1"))
    assert snap_scores(2) == latest_before
    assert snap_scores() == latest_before
    with pytest.raises(ValueError, match="snapshot 0 not in log"):
        read_results(spark, out, snapshot=0).collect()

    # a further merge after expiry must not collide with retained g2
    v2 = [(u, t) for u, t in v1 if u != "u7"] + [("u7", "crawl three u7 anew")]
    r2 = merge_rescore(spark, out, _mk_pages(spark, v2), _score_transform, key_col="url")
    assert r2["snapshot_id"] == 3
    assert os.path.isdir(os.path.join(out, "_rewrites", "g3"))
    after = {r.url: r.total_score for r in read_results(spark, out).collect()}
    assert after["u7"] == len("crawl three u7 anew")
    assert after["u5"] == len("crawl two u5 changed")


def test_expire_preserves_inherited_locations(spark, tmp_path):
    """A plain (no-locations) snapshot appended after a merge keeps
    reading the merge's rewritten buckets even when the merge snapshot
    itself is expired — the expiry folds the effective mapping into the
    first retained entry."""
    import os

    from metadata_quality_stack_spark.sources.sink import (
        SnapshotLog,
        expire_snapshots,
        merge_rescore,
    )

    out = str(tmp_path / "store")
    v0 = [(f"u{i}", f"first body {i} some words here") for i in range(10)]
    run_incremental(
        spark, _mk_pages(spark, v0), out, _score_transform, key_col="url",
        n_buckets=2,
    )
    v1 = [(u, t) for u, t in v0 if u != "u1"] + [("u1", "second crawl u1 text")]
    merge_rescore(spark, out, _mk_pages(spark, v1), _score_transform, key_col="url")
    # append a plain snapshot that only inherits (no locations of its own)
    log = SnapshotLog(out)
    sid = log.append(log.buckets_at(1))
    assert "locations" not in log.snapshots[-1]

    expire_snapshots(out, keep_from=sid)
    after = {r.url: r.total_score for r in read_results(spark, out).collect()}
    assert after["u1"] == len("second crawl u1 text")
    pinned = {
        r.url: r.total_score
        for r in read_results(spark, out, snapshot=sid).collect()
    }
    assert pinned == after


def _hashed_transform(df):
    """The pipeline scorer plus the content hash the merge keys on."""
    from pyspark.sql import functions as F

    from metadata_quality_stack_spark.functions.hashing import md5_int

    return quality_pipeline(
        df.withColumn("content_h", md5_int(F.col("text"), 15)),
        id_cols=("url", "content_h"),
        lang_col="lang",
        include_text=False,
    )


def test_merge_into_store_whose_first_run_kept_no_page(spark, tmp_path):
    """A first run whose filter keeps no page commits a snapshot but
    writes no bucket dir, so its reads return None. Merging a crawl into
    that store adds every page: the latest read equals a fresh run over
    the same crawl, and compaction before and after the merge reads the
    store the same way."""
    import os

    from pyspark.sql import functions as F

    from metadata_quality_stack_spark.sources.sink import (
        compact_results,
        merge_rescore,
    )

    pages = pages_spark_df(spark, n_rows=40, seed=21)
    store, fresh = str(tmp_path / "store"), str(tmp_path / "fresh")
    run_incremental(
        spark, pages, store,
        lambda df: _hashed_transform(df.filter(F.col("lang") == "xx")),
    )
    assert not any(d.startswith("bucket=") for d in os.listdir(store))
    # a store no page reached reads as None, latest or pinned
    assert read_results(spark, store) is None
    assert read_results(spark, store, snapshot=0) is None
    assert compact_results(spark, store) == {
        "snapshot_id": 0, "buckets": list(range(8)), "rows": 0,
    }

    res = merge_rescore(spark, store, pages, _hashed_transform)
    assert res["rows_written"] == 40 and res["snapshot_id"] == 1
    run_incremental(spark, pages, fresh, _hashed_transform)

    def rows(out_dir):
        return sorted(
            tuple(r)
            for r in read_results(spark, out_dir)
            .select("url", "keep", "total_score")
            .collect()
        )

    want = rows(fresh)
    assert len(want) == 40
    assert rows(store) == want
    assert compact_results(spark, store)["rows"] == 40
    assert rows(store) == want


def _table(spark, out_dir, snapshot=None):
    return sorted(
        tuple(r)
        for r in read_results(spark, out_dir, snapshot=snapshot)
        .select("url", "content_h", "total_score", "keep", "bucket")
        .collect()
    )


def test_kill_after_write_before_first_commit(spark, tmp_path, monkeypatch):
    """A crash after the parquet write and before the first manifest
    commit leaves bucket files, an empty manifest and no snapshot; the
    rerun rewrites every bucket and its table equals a one-shot run."""
    import os

    rows = [(f"u{i}", f"page {i} body with some words") for i in range(30)]
    pages = _mk_pages(spark, rows)
    one_shot, resumed = str(tmp_path / "one_shot"), str(tmp_path / "resumed")
    run_incremental(spark, pages, one_shot, _score_transform, n_buckets=4)

    with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected crash"):
        _crash_on_call(mp, SnapshotManifest, "commit", 1)
        run_incremental(spark, pages, resumed, _score_transform, n_buckets=4)
    assert SnapshotManifest(resumed).entries == {}
    assert any(d.startswith("bucket=") for d in os.listdir(resumed))
    assert not os.path.exists(os.path.join(resumed, "_snapshots.json"))

    summary = run_incremental(spark, pages, resumed, _score_transform, n_buckets=4)
    assert summary["rows"] == 30 and summary["snapshot_id"] == 0
    assert _table(spark, resumed) == _table(spark, one_shot)


def test_compact_crash_before_log_append(spark, tmp_path, monkeypatch):
    """A compaction killed after its generation write and before the log
    append leaves an orphan generation no read sees; the rerun clears
    that dir, rewrites it and commits."""
    import os

    from metadata_quality_stack_spark.sources.sink import compact_results

    out = str(tmp_path / "store")
    rows = [(f"u{i}", f"crawl body {i} for compaction") for i in range(16)]
    run_incremental(spark, _mk_pages(spark, rows), out, _score_transform, n_buckets=4)
    before = _table(spark, out)

    with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected crash"):
        _crash_on_call(mp, SnapshotLog, "append", 1)
        compact_results(spark, out)
    gen = os.path.join(out, "_rewrites", "g1")
    assert os.path.isdir(gen)
    assert [s["snapshot_id"] for s in SnapshotLog(out).snapshots] == [0]
    assert _table(spark, out) == before

    stale = os.path.join(gen, "_stale_marker")
    open(stale, "w").close()
    res = compact_results(spark, out)
    assert res["snapshot_id"] == 1 and res["rows"] == 16
    assert not os.path.exists(stale)
    assert SnapshotLog(out).snapshots[-1]["locations"] == {
        str(b): os.path.join("_rewrites", "g1") for b in range(4)
    }
    assert _table(spark, out) == before


def test_expire_crash_before_rmtree(spark, tmp_path, monkeypatch):
    """An expiry killed after the log rewrite and before the generation
    dirs are deleted: pins >= keep_from still read, the dropped pins
    raise, and a second call reclaims the orphan dir."""
    import os

    from metadata_quality_stack_spark.sources.sink import (
        compact_results,
        expire_snapshots,
        merge_rescore,
    )

    out = str(tmp_path / "store")
    v0 = [(f"u{i}", f"crawl one body {i} with several words") for i in range(16)]
    run_incremental(spark, _mk_pages(spark, v0), out, _score_transform, n_buckets=4)
    v1 = [(u, t) for u, t in v0 if u != "u5"] + [("u5", "crawl two u5 changed")]
    merge_rescore(spark, out, _mk_pages(spark, v1), _score_transform, key_col="url")
    compact_results(spark, out)
    latest = _table(spark, out)

    with monkeypatch.context() as mp, pytest.raises(RuntimeError, match="injected crash"):
        _crash_on_call(mp, sink.shutil, "rmtree", 1)
        expire_snapshots(out, keep_from=2)
    assert [s["snapshot_id"] for s in SnapshotLog(out).snapshots] == [2]
    assert os.path.isdir(os.path.join(out, "_rewrites", "g1"))  # orphan
    assert _table(spark, out, snapshot=2) == latest
    assert _table(spark, out) == latest
    with pytest.raises(ValueError, match="snapshot 1 not in log"):
        read_results(spark, out, snapshot=1)

    exp = expire_snapshots(out, keep_from=2)
    assert exp == {"kept_snapshots": [2], "deleted_dirs": ["g1"]}
    assert not os.path.isdir(os.path.join(out, "_rewrites", "g1"))
    assert _table(spark, out) == latest
