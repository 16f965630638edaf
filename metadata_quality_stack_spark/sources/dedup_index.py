"""Persistent exact-dedup fingerprint index: the state behind
incremental ingest.

`operators/dedup.py:dedup_new_batch` answers "which of these new docs
are already in the corpus" when the corpus is available as a DataFrame.
In production the corpus is NOT re-scanned per crawl delta — the
pipeline maintains a standing INDEX of content fingerprints and each
batch runs: probe index -> keep unseen -> append the survivors'
fingerprints. This module is that loop.

Layout: one parquet table of 16-byte md5 fingerprints, partition-dirred
by a hash-prefix bucket (`fp_bucket=<0..N>`), written through
`sources/store.py`. The bucket dirs bound per-append file counts (one
file per bucket per batch) and give `compact_index` a per-bucket unit
of work. At 10^12 documents the index is ~16 TB of
fingerprints — far too big to broadcast, exactly right for a
shuffle-on-fingerprint anti-join; a production deploy stores it as an
Iceberg table bucketed on the fingerprint (sources/bucketed.py is the
in-sandbox demonstration of that shuffle-free layout).

Correctness properties (tested in tests/test_dedup_index.py):

* probe uses LEFT ANTI join — duplicate index rows (possible after a
  mid-append crash, since parquet appends are not atomic) can never
  multiply batch rows or change membership, so a partially-applied
  append is safe to retry: re-ingesting the same batch is idempotent.
* survivors are pinned with an eager localCheckpoint BEFORE the append,
  so the returned DataFrame cannot silently re-probe the grown index.
* `compact_index` rewrites each bucket dir with distinct fingerprints
  via dynamic partition overwrite (`sources/store.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_quality_stack_spark.functions.hashing import hex_int
from metadata_quality_stack_spark.sources import store

FP_BUCKETS = 16
CYCLE_MOD = 3  # ingest batches: doc_id % 3 == 0, 1, 2


def content_fingerprint() -> F.Column:
    """md5 of the utf-8 text — the same fingerprint as exact_dedup /
    dedup_new_batch, so index membership is engine-recomputable."""
    return F.md5(F.encode(F.col("text"), "UTF-8"))


def _with_bucket(fps: DataFrame) -> DataFrame:
    return fps.withColumn(
        "fp_bucket", (hex_int("fingerprint", 2) % FP_BUCKETS).cast("int")
    )


def _append(survivors: DataFrame, index_dir: str) -> None:
    fps = _with_bucket(survivors.select("fingerprint"))
    store.write_partitioned(fps, index_dir, "fp_bucket", "append")


def build_index(docs: DataFrame, index_dir: str) -> None:
    """Initialize the index from an existing corpus: distinct
    fingerprints, one shuffle, one file per bucket dir."""
    fps = _with_bucket(
        docs.select(content_fingerprint().alias("fingerprint")).distinct()
    )
    store.write_partitioned(fps, index_dir, "fp_bucket", "overwrite")


def ingest_batch(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> DataFrame:
    """One ingest step: returns the batch docs that survive exact dedup
    (first occurrence within the batch AND fingerprint absent from the
    index), and appends exactly the survivors' fingerprints to the
    index. Returned DataFrame is materialized (localCheckpoint) before
    the append, so re-reading it after the index has grown is safe.

    Columns: doc_id, fingerprint."""
    batch = new_docs.select("doc_id", content_fingerprint().alias("fingerprint"))
    first = batch.groupBy("fingerprint").agg(F.min("doc_id").alias("_first"))
    survivors = (
        batch.join(first, "fingerprint")
        .filter(F.col("doc_id") == F.col("_first"))
        .select("doc_id", "fingerprint")
    )
    # an absent index is the genuine "first ingest" case; any other read
    # failure (a table without a fingerprint column) raises
    idx = store.read_table(spark, index_dir)
    if idx is not None:
        survivors = survivors.join(
            idx.select("fingerprint"), "fingerprint", "left_anti"
        )
    survivors = survivors.localCheckpoint(eager=True)
    _append(survivors, index_dir)
    return survivors


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Rewrite every bucket dir to distinct fingerprints in one file —
    the periodic maintenance that caps both file counts and the
    duplicate rows a crashed append may have left. Dynamic partition
    overwrite touches only buckets present in the read (all of them
    here; at scale the job runs per-bucket on a schedule). An absent
    index has nothing to compact."""
    idx = store.read_table(spark, index_dir)
    if idx is None:
        return
    idx = idx.select("fingerprint", "fp_bucket").distinct()
    with store.dynamic_overwrite(spark):
        store.write_partitioned(idx, index_dir, "fp_bucket", "overwrite")


def index_probe_cycle(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """One full index lifecycle, gate-checkable against pure SQL:
    BUILD the index from corpus slice A (doc_id % 3 == 0), INGEST
    batch B (== 1), COMPACT, then PROBE-and-ingest batch C (== 2) and
    return C's survivors. Runs against a scratch directory so the gate
    exercises the real parquet read/append/overwrite path — the logical
    answer is pure set algebra over the same table (C's first-occurrence
    fingerprints absent from A and from B's admitted set), which is what
    :func:`index_probe_cycle_sql` states. Compaction sits between the
    ingests precisely because it must NOT change the answer.

    Columns: doc_id, fingerprint."""
    with store.scratch_dir("dedup_index_gate_") as index_dir:
        build_index(docs.filter(F.col("doc_id") % CYCLE_MOD == 0), index_dir)
        ingest_batch(spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 1), index_dir)
        compact_index(spark, index_dir)
        # ingest_batch localCheckpoints eagerly, so the result outlives
        # the scratch directory
        return ingest_batch(
            spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 2), index_dir
        )


def index_probe_cycle_bloom(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The same lifecycle as :func:`index_probe_cycle` but with BOTH
    ingests routed through the bloom pre-filter (bitmap bootstraps from
    the built index on the first one). The answer must be identical —
    the bloom only decides which rows pay the anti-join, never
    membership — so this query shares index_probe_cycle_sql as its
    oracle, which is exactly the no-false-negatives claim stated as a
    gate row. Compaction between the ingests must not disturb the
    bitmap's superset invariant (it only removes duplicate rows).

    Columns: doc_id, fingerprint."""
    with store.scratch_dir("dedup_index_bloom_gate_") as index_dir:
        build_index(docs.filter(F.col("doc_id") % CYCLE_MOD == 0), index_dir)
        ingest_batch_bloom(
            spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 1), index_dir
        )
        compact_index(spark, index_dir)
        return ingest_batch_bloom(
            spark, docs.filter(F.col("doc_id") % CYCLE_MOD == 2), index_dir
        )


def index_probe_cycle_sql() -> str:
    """DuckDB mirror of :func:`index_probe_cycle`: the index after
    build(A) + ingest(B) contains A's distinct fingerprints plus B's
    admitted (batch-first, not-in-A) fingerprints; C's survivors are its
    batch-first rows absent from both."""
    return f"""
WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
a AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % {CYCLE_MOD} = 0),
bfirst AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp
           WHERE doc_id % {CYCLE_MOD} = 1 GROUP BY fingerprint),
badm AS (SELECT fingerprint FROM bfirst
         WHERE fingerprint NOT IN (SELECT fingerprint FROM a)),
cfirst AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp
           WHERE doc_id % {CYCLE_MOD} = 2 GROUP BY fingerprint)
SELECT doc_id, fingerprint FROM cfirst
WHERE fingerprint NOT IN (SELECT fingerprint FROM a)
  AND fingerprint NOT IN (SELECT fingerprint FROM badm)
"""


# --------------------------------------------------------- bloom sidecar
# A Bloom bitmap (operators/bloom.py) maintained NEXT TO the index: the
# ingest probe consults the broadcast bitmap map-only first, and only
# the maybe-dups (typically a few % of a fresh crawl batch) pay the
# anti-join against the on-disk index. Stored as a tiny parquet table in
# the index dir — it lives wherever the warehouse lives (the same
# non-local-URI reasoning as the read-based existence probe in
# sources/store.py).
#
# Crash-safety invariant: the bitmap is always a SUPERSET of the index's
# fingerprint positions — ingest writes the merged bitmap BEFORE
# appending fingerprints, so a crash between the two leaves phantom bits
# (harmless false positives that route extra rows to the anti-join),
# never missing bits (which would be false negatives = readmitted
# duplicates). Re-ingesting the same batch after such a crash is still
# idempotent: the phantom rows fail the anti-join's membership test the
# same way any maybe-dup does. Single concurrent writer assumed, like
# the index appends themselves.
BLOOM_M_BITS = 1 << 20  # sizing CAP: 128 KB bitmap; ~10 bits/key at 100k keys
BLOOM_MIN_M_BITS = 1 << 14  # sizing floor: 2 KB
BLOOM_BITS_PER_KEY = 12  # ~0.3% FP at k=4


def _size_m_bits(n_keys: int) -> int:
    """Bloom sizing discipline (module docstring of operators/bloom.py):
    ~12 bits per key, next power of two, clamped. A FIXED m burned the
    gate: a 1 Mbit bitmap over a 166-key index is a 16k-long literal
    whose analysis cost dwarfs the probe it accelerates; sizing to the
    key count keeps the literal proportional to the index, not to the
    production ceiling."""
    target = max(BLOOM_MIN_M_BITS, BLOOM_BITS_PER_KEY * max(n_keys, 1))
    m = BLOOM_MIN_M_BITS
    while m < target and m < BLOOM_M_BITS:
        m <<= 1
    return m


def _bloom_dir(index_dir: str) -> str:
    return f"{index_dir}/_bloom"


def write_bloom(spark: SparkSession, bitmap: list[int], index_dir: str) -> None:
    """Persist the bitmap with its geometry: m_bits rides along so a
    reader never has to assume a global constant (bitmaps of different
    generations may be sized differently)."""
    m_bits = 64 * len(bitmap)
    rows = [(i, w, m_bits) for i, w in enumerate(bitmap) if w]
    df = spark.createDataFrame(
        rows or [(0, 0, m_bits)], "word_idx long, bits long, m_bits long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(_bloom_dir(index_dir))


def read_bloom(spark: SparkSession, index_dir: str) -> list[int] | None:
    """Read the bitmap at its STORED geometry (m_bits column)."""
    sidecar = store.read_sidecar(spark, _bloom_dir(index_dir))
    if sidecar is None:
        return None
    rows = sidecar.collect()
    if rows and "m_bits" in rows[0].__fields__:
        m_bits = int(rows[0].m_bits)
    elif rows:
        # legacy sidecar (schema word_idx, bits — no geometry column):
        # GUESSING the geometry risks false negatives (bits set mod one
        # m, probed mod another -> readmitted duplicates), so treat the
        # sidecar as absent — the caller's bootstrap path rebuilds the
        # bitmap from the committed index keys (unconditionally safe,
        # and right-sizes the one-time migration) and writes it back
        # with the geometry column
        return None
    else:
        m_bits = BLOOM_MIN_M_BITS
    # never index past the end even if the stored geometry lies
    if rows:
        m_bits = max(m_bits, 64 * (max(int(r.word_idx) for r in rows) + 1))
    bitmap = [0] * (m_bits // 64)
    for r in rows:
        bitmap[int(r.word_idx)] |= int(r.bits)
    return bitmap


def ingest_batch_bloom(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> DataFrame:
    """ingest_batch with the Bloom pre-filter: identical survivors (no
    false negatives by the superset invariant; tested), but definite-new
    rows — the bulk of a fresh batch — never enter the index anti-join.
    Bootstraps the bitmap from the index on first use (one scan)."""
    from metadata_quality_stack_spark.operators import bloom as bloom_mod

    batch = new_docs.select("doc_id", content_fingerprint().alias("fingerprint"))
    first = batch.groupBy("fingerprint").agg(F.min("doc_id").alias("_first"))
    batch_first = (
        batch.join(first, "fingerprint")
        .filter(F.col("doc_id") == F.col("_first"))
        .select("doc_id", "fingerprint")
    )

    bitmap = read_bloom(spark, index_dir)
    idx = store.read_table(spark, index_dir)
    if idx is not None:
        idx = idx.select("fingerprint")
    if bitmap is None:
        # bootstrap: size m to the index's ACTUAL key count (one cheap
        # parquet-metadata count), not the production ceiling
        if idx is not None:
            m = _size_m_bits(idx.count())
            bitmap = bloom_mod.bloom_build(idx, col="fingerprint", m_bits=m)
        else:
            bitmap = [0] * (BLOOM_MIN_M_BITS // 64)
    m_bits = 64 * len(bitmap)

    probed = bloom_mod.bloom_probe(batch_first, bitmap, col="fingerprint")
    definite_new = probed.filter(F.col("maybe_dup") == False).drop(  # noqa: E712
        "maybe_dup"
    )
    # null fingerprints (null text) probe to null: route them to the
    # anti-join side so their membership semantics match ingest_batch
    maybe = probed.filter(
        F.col("maybe_dup").isNull() | F.col("maybe_dup")
    ).drop("maybe_dup")
    maybe_new = maybe.join(idx, "fingerprint", "left_anti") if idx is not None else maybe
    survivors = definite_new.unionByName(maybe_new).localCheckpoint(eager=True)

    new_fps = survivors.select("fingerprint").filter(F.col("fingerprint").isNotNull())
    new_bits = bloom_mod.bloom_build(new_fps, col="fingerprint", m_bits=m_bits)
    merged = [a | b for a, b in zip(bitmap, new_bits)]
    # saturation guard: past half-full the FP rate decays toward "route
    # everything to the anti-join" (correct, just useless) — rebuild at
    # 4x m (one growth step skips the soon-again-saturated 2x size)
    # from the post-append key set. Rebuilding BEFORE the
    # append keeps the crash invariant: the new bitmap covers survivors
    # whose fingerprints may not have landed yet (phantom bits, safe).
    # popcount must view each word as its unsigned 64-bit pattern —
    # bin() on a negative JVM long is sign-magnitude and undercounts
    n_set = sum(bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in merged)
    if m_bits < BLOOM_M_BITS and n_set > m_bits // 2:
        all_fps = idx.union(new_fps) if idx is not None else new_fps
        merged = bloom_mod.bloom_build(
            all_fps, col="fingerprint", m_bits=min(4 * m_bits, BLOOM_M_BITS)
        )
    # superset-first: merged bitmap lands BEFORE the fingerprint append
    write_bloom(spark, merged, index_dir)
    _append(survivors, index_dir)
    return survivors
