"""Quantified ANN recall vs exact brute force (VERDICT r1: 'recall
unquantified'). Measured on the sf0.01 embeddings (500 vecs, 64 dims):
single-table LSH ~0.03 recall@10 (the why of ann_topk_multi), 4-table
LSH substantially higher, IVF nprobe=2 ~0.5."""

import pytest

from metadata_quality_stack_spark.operators import similarity

QUERIES = list(range(0, 30, 3))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def recall(emb):
    """recall@10 of ``fn`` over QUERIES; the exact top-10 of each query is
    computed once for the module."""
    k = 10
    exact = {
        q: {r.vec_id for r in similarity.brute_force_topk(emb, q, k).collect()}
        for q in QUERIES
    }

    def _recall(fn):
        hits = sum(
            len(exact[q] & {r.vec_id for r in fn(emb, q, k).collect()})
            for q in QUERIES
        )
        return hits / (k * len(QUERIES))

    return _recall


def test_multi_table_beats_single_table(recall):
    single = recall(lambda e, q, k: similarity.ann_topk(e, q, k))
    multi = recall(lambda e, q, k: similarity.ann_topk_multi(e, q, k))
    assert multi > single
    assert multi >= 0.30  # measured 0.43 with 8 tables x 5 planes


def test_ivf_recall_floor(recall):
    ivf = recall(lambda e, q, k: similarity.ivf_topk(e, q, k))
    assert ivf >= 0.35  # measured ~0.5 at nprobe=2 of 16 cells


def test_more_probes_more_recall(recall):
    lo = recall(lambda e, q, k: similarity.ivf_topk(e, q, k, nprobe=1))
    hi = recall(lambda e, q, k: similarity.ivf_topk(e, q, k, nprobe=4))
    assert hi >= lo  # the recall/cost dial moves the right way


def test_trained_ivf_recall_and_balance(emb, recall):
    """Lloyd-trained IVF, measured on the sf0.01 embeddings (10 queries,
    recall@10, nprobe sweep — the full table lives in BENCH/BASELINE.md):

        nprobe      1     2     4
        seeded    0.54  0.63  0.72
        trained   0.50  0.57  0.68

    On uniform random embeddings training does NOT buy recall at fixed
    nprobe (there is no cluster structure to discover) — what it buys is
    BALANCE: max cell 38 vs 42, cell-size std 4.3 vs 5.2. At 100 TB the
    max cell bounds the hottest partition of every probe, so that is the
    production reason to train. Asserted: trained recall stays within
    noise of seeded (>= 0.4 at nprobe=2) and the max trained cell is no
    larger than the max seeded cell."""
    from pyspark.sql import functions as F

    cents = similarity.ivf_train(emb, similarity.IVF_K, similarity.IVF_TRAIN_ITER)

    def trained(e, q, k):
        # re-use the trained centroids across queries (the index is built
        # once; ivf_topk_trained itself retrains per call by design)
        spark = e.sparkSession
        cents_df = spark.createDataFrame(
            [(int(c), [float(v) for v in vec]) for c, vec in cents],
            "cell_id long, c_emb array<double>",
        )
        assigned = similarity.ivf_assign_trained(e, cents)
        q_emb = e.filter(F.col("vec_id") == q).select(
            F.col("embedding").alias("q_emb")
        )
        probe = (
            cents_df.crossJoin(F.broadcast(q_emb))
            .select(
                "cell_id",
                F.round(
                    similarity.cosine(F.col("c_emb"), F.col("q_emb")), 6
                ).alias("qs"),
            )
            .orderBy(F.desc("qs"), F.asc("cell_id"))
            .limit(similarity.IVF_NPROBE)
            .select("cell_id")
        )
        return (
            assigned.join(F.broadcast(probe), "cell_id")
            .crossJoin(F.broadcast(q_emb))
            .filter(F.col("vec_id") != q)
            .select(
                "vec_id",
                F.round(
                    similarity.cosine(F.col("embedding"), F.col("q_emb")), 6
                ).alias("cos_sim"),
            )
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(k)
        )

    assert recall(trained) >= 0.4  # measured 0.57 at nprobe=2

    seed_max = (
        similarity.ivf_assign(emb)
        .groupBy("cell_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    trained_max = (
        similarity.ivf_assign_trained(emb, cents)
        .groupBy("cell_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert trained_max <= seed_max  # measured 38 vs 42


def test_multiprobe_beats_single_bucket(recall):
    """Multi-probe LSH (Hamming-1 neighbor buckets, one table): probes
    (n_planes+1)/2^n_planes ≈ 3.5% of a uniform corpus vs the 8x5
    multi-table's ~25%, repairing the narrow-margin misses that
    dominate single-bucket LSH. Recall measured here and recorded in
    BENCH/BASELINE.md."""
    single = recall(lambda e, q, k: similarity.ann_topk(e, q, k))
    multiprobe = recall(lambda e, q, k: similarity.ann_topk_multiprobe(e, q, k))
    assert multiprobe > single
    assert multiprobe >= 0.10  # measured on the sf0.01 embeddings
