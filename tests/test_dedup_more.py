"""dedup_audit: LSH banding recall/precision vs exact Jaccard truth."""

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators import dedup


def test_dedup_audit_counts(spark):
    base = (
        "the committee reviewed the annual budget report on tuesday and "
        "agreed that spending should remain broadly stable next year"
    )
    rows = [
        (0, base),
        (1, base),                                   # exact dup: truth + candidate
        (2, base.replace("tuesday", "wednesday")),   # near dup
        (3, "an entirely different document about gardening and soil quality"),
        (4, "yet another unrelated text concerning maritime navigation rules"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.dedup_audit(docs, threshold=0.2).collect()[0]
    # the three base variants form truth pairs; unrelated docs form none
    assert r.n_truth_pairs == 3
    assert r.n_hit <= r.n_truth_pairs
    assert r.n_hit <= r.n_candidate_pairs
    assert r.recall_ppm == r.n_hit * 1_000_000 // r.n_truth_pairs
    assert r.precision_ppm == r.n_hit * 1_000_000 // r.n_candidate_pairs
    # identical docs always share every band: the exact-dup pair is caught
    cand = {
        (x.d1, x.d2) for x in dedup.minhash_candidate_pairs(docs).collect()
    }
    assert (0, 1) in cand


def test_dedup_audit_empty_truth(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta words"), (1, "totally different content here")],
        "doc_id long, text string",
    )
    r = dedup.dedup_audit(docs, threshold=0.9).collect()[0]
    assert r.n_truth_pairs == 0
    assert r.recall_ppm is None  # NULL, not a fake 0/0 number


def test_minhash_coeff_family_prefix_stable():
    """The first 8 affine coefficients are the literal primes every
    committed oracle replays — extending to production k must never
    change them; the extension is deterministic and int64-safe."""
    from metadata_quality_stack_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_M,
        _minhash_coeffs,
    )

    a8, b8 = _minhash_coeffs(8)
    assert a8 == MINHASH_A
    a128, b128 = _minhash_coeffs(128)
    assert a128[:8] == MINHASH_A and b128[:8] == b8
    assert len(a128) == len(set(a128)) == 128  # no collisions, no zeros
    assert all(0 < a < MINHASH_M for a in a128)
    # replay determinism
    assert _minhash_coeffs(128) == (a128, b128)


def test_production_k_banding_more_precise_than_gate_k(spark):
    """k=128 x 16 bands (rows-per-band 8) must admit a SUBSET of the
    k=8 x 4 (rows-per-band 2) candidates on the same corpus: longer
    bands make bucket agreement strictly harder, which is the whole
    point of paying for the wider signature at production scale."""
    from pyspark.sql import functions as F

    from metadata_quality_stack_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "a completely different document about spark dataflow"),
            (4, "a completely different document about spark dataflow"),
            (5, "unrelated text with nothing shared at all here folks"),
        ],
        "doc_id long, text string",
    )
    wide = {
        (r.d1, r.d2)
        for r in dedup.minhash_candidate_pairs(
            docs, n_hashes=128, n_bands=16
        ).collect()
    }
    narrow = {
        (r.d1, r.d2)
        for r in dedup.minhash_candidate_pairs(docs).collect()
    }
    assert wide <= narrow
    assert (3, 4) in wide  # exact dups always collide in every band


def test_star_components_chain_converges_logarithmically(spark):
    """A 64-node path graph is the adversarial case for min-label
    propagation (63 rounds = the diameter); the large-star/small-star
    alternation must contract it to one star on node 0 in O(log n)
    rounds. Template-series near-dup chains are exactly this shape."""
    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "lo long, hi long"
    )
    stars, rounds = dedup.star_components(chain, max_iter=20)
    got = stars.collect()
    assert {(r.lo, r.hi) for r in got} == {(0, i) for i in range(1, n)}
    # fixed-point detection costs one extra confirming round
    assert rounds <= 12, f"star rounds blew the log bound: {rounds}"
    # a round bound that cannot reach the fixed point fails loudly
    # instead of returning a partial star graph (= split clusters)
    with pytest.raises(RuntimeError, match="after 2 rounds"):
        dedup.star_components(chain, max_iter=2)


def test_dedup_clusters_matches_oracle(spark):
    """The star rounds must land on the fixed point the iteration-free
    recursive-reachability oracle states (cluster = min doc_id per
    component) over the real LSH candidate graph of the sf0.001
    documents table."""
    import duckdb

    import __spark_entry__ as entry

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.doc_id, r.cluster) for r in dedup.dedup_clusters(docs).collect()
    }
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = set(con.execute(entry.oracle_sql()["dedup_clusters"]).fetchall())
    assert got == want
    assert any(d != c for d, c in got), "no multi-doc cluster exercised"


def test_star_components_empty_and_singleton(spark):
    """Hostile inputs: an empty edge list must fix immediately, and
    dedup_clusters must label every doc its own cluster when no
    candidate pairs exist."""
    empty = spark.createDataFrame([], "lo long, hi long")
    stars, rounds = dedup.star_components(empty, max_iter=5)
    assert stars.count() == 0 and rounds <= 2
    lone = spark.createDataFrame(
        [(1, "completely unique text that shares no shingles with anyone")],
        "doc_id long, text string",
    )
    got = dedup.dedup_clusters(lone).collect()
    assert [(r.doc_id, r.cluster) for r in got] == [(1, 1)]
