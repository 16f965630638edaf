"""Persistent fingerprint-index maintenance: probe/append/compact loop
(sources/dedup_index.py) — the stateful half of incremental exact dedup.
"""

import glob

from pyspark.sql import functions as F

from metadata_quality_stack_spark.sources import dedup_index as dix
from metadata_quality_stack_spark.sources.store import read_sidecar, read_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_loop_end_to_end(spark, tmp_path):
    index_dir = str(tmp_path / "fp_index")
    corpus = _docs(
        spark,
        [(1, "known text one"), (2, "known text two"), (3, "known text one")],
    )
    dix.build_index(corpus, index_dir)
    # distinct fingerprints only: 2, not 3
    assert read_table(spark, index_dir).count() == 2

    batch = _docs(
        spark,
        [
            (10, "known text one"),   # dup of corpus -> dropped
            (11, "fresh text a"),     # new -> kept
            (12, "fresh text a"),     # within-batch dup -> dropped
            (13, "fresh text b"),     # new -> kept
        ],
    )
    kept = dix.ingest_batch(spark, batch, index_dir)
    assert sorted(r.doc_id for r in kept.collect()) == [11, 13]
    # index grew by exactly the 2 surviving fingerprints
    assert read_table(spark, index_dir).count() == 4

    # re-ingesting the SAME batch is idempotent: everything now known
    again = dix.ingest_batch(spark, batch, index_dir)
    assert again.count() == 0
    assert read_table(spark, index_dir).count() == 4


def test_ingest_into_missing_index_bootstraps(spark, tmp_path):
    index_dir = str(tmp_path / "fresh_index")
    batch = _docs(spark, [(1, "a doc"), (2, "a doc"), (3, "other")])
    kept = dix.ingest_batch(spark, batch, index_dir)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]
    assert read_table(spark, index_dir).count() == 2


def test_absent_and_empty_tables_read_as_none(spark, tmp_path):
    """No directory, or one holding only hidden files, reads as no table
    through both store readers."""
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    for path in (str(tmp_path / "absent"), str(empty)):
        assert read_table(spark, path) is None
        assert read_sidecar(spark, path) is None


def test_ingest_into_foreign_table_raises(spark, tmp_path):
    """Only an absent index reads as a first ingest. A dir holding a
    parquet table without a ``fingerprint`` column must fail the probe,
    not re-admit every doc of the batch."""
    import pytest
    from pyspark.errors import AnalysisException

    index_dir = str(tmp_path / "foreign")
    spark.createDataFrame([(1, "x")], "id long, other string").write.parquet(index_dir)
    batch = _docs(spark, [(1, "a doc"), (2, "other")])
    with pytest.raises(AnalysisException):
        dix.ingest_batch(spark, batch, index_dir)


def test_duplicate_index_rows_never_multiply_and_compact_heals(spark, tmp_path):
    """A crashed append can leave the same fingerprint twice; the anti-
    join probe must stay correct and compaction must restore one row per
    fingerprint and one file per bucket dir."""
    index_dir = str(tmp_path / "dup_index")
    corpus = _docs(spark, [(1, "known text")])
    dix.build_index(corpus, index_dir)
    # simulate the partial retry: append the same fingerprint again
    dup = read_table(spark, index_dir).select("fingerprint")
    (
        dix._with_bucket(dup)
        .write.mode("append")
        .partitionBy("fp_bucket")
        .parquet(index_dir)
    )
    assert read_table(spark, index_dir).count() == 2  # duplicated

    batch = _docs(spark, [(10, "known text"), (11, "fresh")])
    kept = dix.ingest_batch(spark, batch, index_dir)
    # anti-join: the duplicated index row drops doc 10 once, not twice,
    # and cannot resurrect it
    assert [r.doc_id for r in kept.collect()] == [11]

    dix.compact_index(spark, index_dir)
    idx = read_table(spark, index_dir)
    assert idx.count() == 2  # known + fresh, deduplicated
    # one file per bucket dir after compaction
    for bdir in glob.glob(f"{index_dir}/fp_bucket=*"):
        files = [f for f in glob.glob(f"{bdir}/*.parquet")]
        assert len(files) == 1, bdir


def test_bucket_assignment_is_prefix_stable(spark):
    """fp_bucket must derive from the fingerprint prefix alone so any
    engine (or a bucket-pruned probe) can recompute the partition."""
    docs = _docs(spark, [(i, f"text {i}") for i in range(50)])
    fps = docs.select(dix.content_fingerprint().alias("fingerprint"))
    out = dix._with_bucket(fps).collect()
    for r in out:
        assert r.fp_bucket == int(r.fingerprint[:2], 16) % dix.FP_BUCKETS


def test_bloom_ingest_matches_plain_ingest(spark, tmp_path):
    """ingest_batch_bloom must admit EXACTLY the same survivors as
    ingest_batch across a multi-batch ingest loop with overlaps, and
    maintain the superset invariant (every index fingerprint probes
    maybe_dup=true afterwards — no false negative can ever readmit a
    known duplicate)."""
    from metadata_quality_stack_spark.operators import bloom as bloom_mod
    from metadata_quality_stack_spark.sources import dedup_index as di

    def docs(ids_texts):
        return spark.createDataFrame(ids_texts, "doc_id long, text string")

    batches = [
        docs([(1, "aa"), (2, "bb"), (3, "aa")]),          # in-batch dup
        docs([(4, "bb"), (5, "cc")]),                      # cross-batch dup
        docs([(6, "cc"), (7, "dd"), (8, "ee"), (9, "dd")]),
    ]
    plain_dir = str(tmp_path / "plain")
    bloom_dir_ = str(tmp_path / "bloomed")
    for b in batches:
        p = {r.doc_id for r in di.ingest_batch(spark, b, plain_dir).collect()}
        q = {
            r.doc_id
            for r in di.ingest_batch_bloom(spark, b, bloom_dir_).collect()
        }
        assert p == q
    # index contents identical
    a = {r.fingerprint for r in read_table(spark, plain_dir).collect()}
    c = {r.fingerprint for r in read_table(spark, bloom_dir_).collect()}
    assert a == c and len(a) == 5
    # superset invariant: every index fingerprint probes positive
    bitmap = di.read_bloom(spark, bloom_dir_)
    probed = bloom_mod.bloom_probe(
        read_table(spark, bloom_dir_).select(
            F.col("fingerprint").alias("doc_id"), "fingerprint"
        ),
        bitmap,
        col="fingerprint",
    )
    assert probed.filter(F.col("maybe_dup") == False).count() == 0  # noqa: E712


def test_bloom_ingest_survives_phantom_bits(spark, tmp_path):
    """A crash between the bloom write and the fingerprint append leaves
    phantom bits (bitmap strictly superset of the index). Simulate it:
    pre-set the bits of a fingerprint that is NOT in the index — the
    next ingest must still admit that document (routed through the
    anti-join, which says 'not in index')."""
    from metadata_quality_stack_spark.operators import bloom as bloom_mod
    from metadata_quality_stack_spark.sources import dedup_index as di

    d = str(tmp_path / "idx")
    di.ingest_batch_bloom(
        spark,
        spark.createDataFrame([(1, "seen")], "doc_id long, text string"),
        d,
    )
    # phantom: set the bits for 'ghost' without appending its fingerprint
    # (at the bitmap's STORED geometry — m is sized adaptively now)
    ghost = spark.createDataFrame([(0, "ghost")], "doc_id long, text string")
    gfp = ghost.select(di.content_fingerprint().alias("fingerprint"))
    stored = di.read_bloom(spark, d)
    phantom_bits = bloom_mod.bloom_build(
        gfp, col="fingerprint", m_bits=64 * len(stored)
    )
    merged = [a | b for a, b in zip(stored, phantom_bits)]
    di.write_bloom(spark, merged, d)

    out = di.ingest_batch_bloom(
        spark,
        spark.createDataFrame(
            [(2, "ghost"), (3, "seen"), (4, "fresh")],
            "doc_id long, text string",
        ),
        d,
    )
    got = {r.doc_id for r in out.collect()}
    assert got == {2, 4}  # ghost admitted (phantom bit harmless), seen dropped


def test_bloom_saturation_rebuild_grows_bitmap(spark, monkeypatch):
    """Past half-full the ingest rebuilds the bitmap at 4x m (before the
    append — superset invariant). Force it by shrinking the floor so a
    moderate key set saturates the bootstrap size."""
    from metadata_quality_stack_spark.sources import dedup_index as di

    monkeypatch.setattr(di, "BLOOM_MIN_M_BITS", 256)
    d_dir = None
    import tempfile

    d_dir = tempfile.mkdtemp(prefix="bloom_sat_")
    try:
        # 256-bit floor, 4 hashes/key: ~120 keys set well over half
        batch = spark.createDataFrame(
            [(i, f"text number {i}") for i in range(120)],
            "doc_id long, text string",
        )
        di.ingest_batch_bloom(spark, batch, d_dir)
        bm = di.read_bloom(spark, d_dir)
        assert 64 * len(bm) >= 1024  # grew past the floor (4x at least)
        # superset invariant after the rebuild: every stored fingerprint
        # still probes maybe_dup=true, so re-ingest admits nothing
        again = di.ingest_batch_bloom(spark, batch, d_dir)
        assert again.count() == 0
    finally:
        import shutil

        shutil.rmtree(d_dir, ignore_errors=True)


def test_bloom_legacy_sidecar_without_geometry(spark, tmp_path):
    """ADVICE r4: a bloom sidecar written by the pre-geometry code
    (schema word_idx, bits — no m_bits column) must not crash
    ingest_batch_bloom. The reader treats it as absent (guessing the
    geometry risks false negatives), the bootstrap path rebuilds the
    bitmap from the committed index keys, and the rewritten sidecar
    carries the geometry column — an in-place upgrade, not a breaker."""
    from metadata_quality_stack_spark.sources import dedup_index as di

    d = str(tmp_path / "idx")
    di.ingest_batch_bloom(
        spark,
        spark.createDataFrame([(1, "seen page")], "doc_id long, text string"),
        d,
    )
    # regress the sidecar to the legacy schema (drop the m_bits column)
    legacy = spark.read.parquet(di._bloom_dir(d)).select("word_idx", "bits")
    legacy_pdf = legacy.toPandas()
    spark.createDataFrame(legacy_pdf).coalesce(1).write.mode(
        "overwrite"
    ).parquet(di._bloom_dir(d))
    assert di.read_bloom(spark, d) is None  # legacy -> bootstrap signal

    out = di.ingest_batch_bloom(
        spark,
        spark.createDataFrame(
            [(2, "seen page"), (3, "fresh page")], "doc_id long, text string"
        ),
        d,
    )
    # duplicate still dropped (no false negative), fresh row admitted
    assert {r.doc_id for r in out.collect()} == {3}
    # and the sidecar is upgraded in place: geometry column back
    assert "m_bits" in spark.read.parquet(di._bloom_dir(d)).columns
