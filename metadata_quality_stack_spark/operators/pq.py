"""Product quantization (PQ) ANN — the vector-compression half of the
FAISS-style IVF-PQ architecture (Jegou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011; public method).

The embedding is split into ``PQ_M`` contiguous subvectors; each
subspace gets its own ``PQ_KSUB``-entry codebook trained by Lloyd
iterations over the subvectors. A vector is then stored as M small
codes (here 4 x 4 bits = 2 bytes instead of 64 floats = 256 bytes — a
128x compression of the index payload), and a query is answered with
asymmetric distance computation (ADC): one tiny distance table per
subspace (query subvector vs the 16 centroids), then each candidate's
distance is the table-lookup sum over its codes — no full vectors are
read at query time.

Scale shape (the reason PQ is THE 100 TB ANN tool):

* **training** — each Lloyd round is ONE job: a map-only argmin
  encoding against the (literal, broadcast-equivalent) current
  codebooks, then one groupBy(m, code) whose map-side partial
  aggregation reduces every partition to at most M*KSUB=64 rows of
  (count + dsub doubles); the exchange carries codebook-sized
  statistics, never vectors. Codebooks return to the driver between
  rounds (M*KSUB*dsub doubles — broadcast-sized), exactly the
  ivf_train pattern (similarity.py).
* **encoding** — map-only projection; the output per vector is
  (vec_id, M codes): the 100 TB corpus compresses to a few bytes/row.
* **query** — the M distance tables are M*KSUB rows; scoring is M
  broadcast hash joins + a fixed-order 4-term sum, then TakeOrdered.
  Nothing shuffles on the corpus side.

Cross-engine exactness: centroid components and distances are rounded
to 6 decimals between rounds (same discipline as ivf_trained_sql), the
fold order of the squared-L2 accumulation is pinned left-to-right with
a 0.0 seed (0.0 + x == x, so DuckDB's seedless list_reduce matches),
and the final ADC sum is written as the same fixed-order 4-term
addition in both engines — pq_trained_sql replays the ENTIRE training
in chained CTEs, so the gate verifies the trained index end-to-end.

Reference parity note: the reference (mjanez/metadata-quality-stack)
has no vector search at all; this module is part of the task-mandated
beyond-reference training-data family (similarity search: brute-force
baseline in similarity.py, LSH/IVF scale paths there, PQ compression
here).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators.similarity import (
    QUERY_VEC_ID,
    TOPK,
    centroid_array_lit,
    double_array_lit,
)

PQ_M = 4  # subspaces
PQ_DSUB = 16  # dims per subspace (PQ_M * PQ_DSUB == similarity.DIM)
PQ_KSUB = 16  # codes per subspace (4-bit codes)
PQ_ITER = 2  # Lloyd rounds


def _sqdist(a: Column, b: Column) -> Column:
    """Squared L2 between two arrays, explicit double, left fold with a
    0.0 seed — bit-identical to the DuckDB seedless list_reduce mirror."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _sub(emb: Column, m: int) -> Column:
    """m-th contiguous subvector (1-based slice, like SQL)."""
    return F.slice(emb, m * PQ_DSUB + 1, PQ_DSUB)


def _argmin(vec: Column, cents: list[tuple[int, list[float]]], name: str = "code") -> Column:
    """Map-only argmin over literal centroids: array_min of (dist, id)
    structs — smallest distance, then smallest id on ties (mirrors ORDER
    BY dist ASC, code ASC). ``vec`` is bound to a lambda variable first,
    so it is evaluated once per row rather than once per centroid."""
    cents_lit = centroid_array_lit(cents)
    best = F.transform(
        F.array(vec),
        lambda v: F.array_min(
            F.transform(
                cents_lit,
                lambda c: F.struct(
                    F.round(_sqdist(v, c["cent"]), 6).alias("d"), c["id"].alias(name)
                ),
            )
        ),
    )
    return best[0][name]


def _codes(books: list[list[tuple[int, list[float]]]]) -> list[Column]:
    """code0..code{M-1}: each subvector of ``embedding`` argmin-encoded."""
    return [
        _argmin(_sub(F.col("embedding"), i), book).alias(f"code{i}")
        for i, book in enumerate(books)
    ]


def _qd(q: Column, cent: Column) -> Column:
    """Query subvector vs ``cent`` distance, rounded, as a when-chain keyed
    on the ``m`` column so one projection covers all subspaces."""
    expr = F.round(_sqdist(_sub(q, PQ_M - 1), cent), 6)
    for i in range(PQ_M - 2, -1, -1):
        expr = F.when(F.col("m") == i, F.round(_sqdist(_sub(q, i), cent), 6)).otherwise(expr)
    return expr


def _coded_tall(emb: DataFrame, books: list[list[tuple[int, list[float]]]]) -> DataFrame:
    """(vec_id, m, code, sub) — one row per subspace, for training stats."""
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("m"),
                _argmin(_sub(F.col("embedding"), i), books[i]).alias("code"),
                _sub(F.col("embedding"), i)
                .cast("array<double>")
                .alias("sub"),
            )
            for i in range(PQ_M)
        ]
    )
    return emb.select("vec_id", F.explode(rows).alias("e")).select(
        "vec_id", F.col("e.m").alias("m"), F.col("e.code").alias("code"),
        F.col("e.sub").alias("sub"),
    )


def pq_train(embeddings: DataFrame) -> list[list[tuple[int, list[float]]]]:
    """Train the M codebooks. Seed = subvectors of the first ``PQ_KSUB``
    vec_ids (deterministic, same role as k-means++ in production); each
    round re-encodes map-only and recomputes per-(m, code) component
    means in ONE groupBy whose partial aggregation bounds the exchange
    at M*KSUB rows per partition. Empty codes drop out (vanishing
    clusters), mirroring ivf_train."""
    seed = (
        embeddings.filter(F.col("vec_id") < PQ_KSUB)
        .select("vec_id", "embedding")
        .collect()
    )
    books: list[list[tuple[int, list[float]]]] = [
        sorted(
            (
                int(r.vec_id),
                [float(v) for v in r.embedding[i * PQ_DSUB : (i + 1) * PQ_DSUB]],
            )
            for r in seed
        )
        for i in range(PQ_M)
    ]
    for _ in range(PQ_ITER):
        stats = (
            _coded_tall(embeddings, books)
            .groupBy("m", "code")
            .agg(
                *[
                    F.round(F.avg(F.col("sub")[i]), 6).alias(f"c{i}")
                    for i in range(PQ_DSUB)
                ]
            )
            .collect()
        )
        books = [[] for _ in range(PQ_M)]
        for r in stats:
            books[int(r["m"])].append(
                (int(r["code"]), [float(r[f"c{i}"]) for i in range(PQ_DSUB)])
            )
        books = [sorted(b) for b in books]
    return books


def pq_encode(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[float]]]],
) -> DataFrame:
    """Map-only PQ encoding: (vec_id, label, code0..code{M-1})."""
    return embeddings.select(
        "vec_id",
        "label",
        *_codes(books),
    )


def pq_topk_trained(
    embeddings: DataFrame,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOPK,
) -> DataFrame:
    """Trained-PQ ADC top-k: train codebooks, encode the corpus
    map-only, build the M query distance tables (M*KSUB rows), then
    score with M broadcast joins and a FIXED-ORDER 4-term sum —
    ascending ADC distance, vec_id tiebreak. The corpus never
    shuffles; the only wide op is TakeOrdered."""
    books = pq_train(embeddings)
    spark = embeddings.sparkSession
    cb_rows = [
        (i, int(code), [float(v) for v in cent])
        for i, book in enumerate(books)
        for code, cent in book
    ]
    cb = spark.createDataFrame(cb_rows, "m int, code long, cent array<double>")
    q_emb = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    # per-subspace qd against the matching query subvector
    dt = cb.crossJoin(F.broadcast(q_emb)).select(
        "m", "code", _qd(F.col("q_emb"), F.col("cent")).alias("qd")
    )

    out = pq_encode(embeddings, books)
    for i in range(PQ_M):
        dt_i = dt.filter(F.col("m") == i).select(
            F.col("code").alias(f"code{i}"), F.col("qd").alias(f"qd{i}")
        )
        out = out.join(F.broadcast(dt_i), f"code{i}")
    adc = reduce(operator.add, [F.col(f"qd{i}") for i in range(PQ_M)])
    return (
        out.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )


def pq_code_histogram(embeddings: DataFrame) -> DataFrame:
    """Index-balance readout: docs per (subspace, code) after training.
    A skewed histogram means dead codes / hot codes — the PQ analog of
    ivf_cell_histogram, and the thing you check before trusting ADC
    pruning at scale."""
    books = pq_train(embeddings)
    enc = pq_encode(embeddings, books)
    tall = enc.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("m"),
                        F.col(f"code{i}").alias("code"),
                    )
                    for i in range(PQ_M)
                ]
            )
        ).alias("e")
    ).select("e.m", "e.code")
    return tall.groupBy("m", "code").agg(F.count("*").alias("n_vecs"))


IVFPQ_NCELLS = 16
IVFPQ_NPROBE = 4


def _coarse_cells(
    embeddings: DataFrame, n_cells: int = IVFPQ_NCELLS
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the full embeddings of the first
    ``n_cells`` vec_ids (the ivf_assign seeding, L2 metric here so the
    coarse and fine quantizers agree)."""
    return sorted(
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in embeddings.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .collect()
    )


def _argmin_cell(emb: Column, cells: list[tuple[int, list[float]]]) -> Column:
    return _argmin(emb, cells, "cell")


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOPK,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC search plan): a coarse quantizer routes
    each vector to a cell map-only; the query probes the ``IVFPQ_NPROBE``
    nearest cells, and ONLY vectors in probed cells are ADC-scored from
    their codes. At 100 TB this is the whole game: the candidate set
    shrinks by n_cells/nprobe before any scoring, the scoring reads
    2-byte codes instead of 256-byte vectors, and the corpus side of
    the plan is one map-only projection + M broadcast joins — nothing
    wide until the final TakeOrdered.

    Both quantizers use squared L2 so coarse routing and fine ranking
    agree (the FAISS convention). The oracle replays coarse assignment,
    PQ training, encoding, and the probe in one chained-CTE SQL."""
    cells = _coarse_cells(embeddings)
    books = pq_train(embeddings)
    spark = embeddings.sparkSession

    enc = embeddings.select(
        "vec_id",
        "label",
        _argmin_cell(F.col("embedding"), cells).alias("cell_id"),
        *_codes(books),
    )
    q_emb = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    cells_df = spark.createDataFrame(
        [(cid, cent) for cid, cent in cells], "cell_id long, cent array<double>"
    )
    probe = (
        cells_df.crossJoin(F.broadcast(q_emb))
        .select(
            "cell_id",
            F.round(_sqdist(F.col("cent"), F.col("q_emb")), 6).alias("qcd"),
        )
        .orderBy(F.asc("qcd"), F.asc("cell_id"))
        .limit(IVFPQ_NPROBE)
        .select("cell_id")
    )
    cb = spark.createDataFrame(
        [
            (i, int(code), [float(v) for v in cent])
            for i, book in enumerate(books)
            for code, cent in book
        ],
        "m int, code long, cent array<double>",
    )
    dt = cb.crossJoin(F.broadcast(q_emb)).select(
        "m", "code", _qd(F.col("q_emb"), F.col("cent")).alias("qd")
    )

    out = enc.join(F.broadcast(probe), "cell_id")
    for i in range(PQ_M):
        dt_i = dt.filter(F.col("m") == i).select(
            F.col("code").alias(f"code{i}"), F.col("qd").alias(f"qd{i}")
        )
        out = out.join(F.broadcast(dt_i), f"code{i}")
    adc = reduce(operator.add, [F.col(f"qd{i}") for i in range(PQ_M)])
    return (
        out.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )


def _residual(emb: Column, cell_id: Column, cells) -> Column:
    """emb - centroid[cell_id] as exact double subtraction — a chained
    when over the literal coarse centroids."""
    expr = None
    for cid, cent in cells:
        c = double_array_lit(cent)
        r = F.zip_with(
            emb, c, lambda x, y: x.cast("double") - y.cast("double")
        )
        expr = r if expr is None else F.when(cell_id == cid, r).otherwise(expr)
    return expr


def ivfpq_residual_topk(
    embeddings: DataFrame,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOPK,
) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the actual FAISS design: PQ
    codebooks train on r = x - centroid(cell(x)), spending the 2-byte
    budget on what's left AFTER coarse quantization. On CLUSTERED data
    that residual variance is far smaller than the raw variance and
    reconstruction error drops sharply (measured >5x on clustered
    synthetic vectors, tests/test_pq.py); on the isotropic random unit
    vectors of the gate corpus the nearest of 16 random centroids is
    still near-orthogonal, residual variance EXCEEDS raw (measured
    1.51 vs 1.00), and raw PQ reconstructs better — the
    curse-of-dimensionality case both variants must survive, which is
    why the gate keeps both. The price of residuals: the query's
    distance tables become PER-PROBED-CELL (q - c differs per cell),
    i.e. nprobe * M tables instead of M — still broadcast-sized. The
    corpus-side plan is unchanged: map-only assign+encode, probe
    prune, M broadcast joins now keyed (cell_id, code), TakeOrdered.

    The oracle replays coarse assignment, residual computation, PQ
    training ON RESIDUALS, encoding, and the per-cell tables."""
    cells = _coarse_cells(embeddings)
    assigned = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        _argmin_cell(F.col("embedding"), cells).alias("cell_id"),
    )
    res = assigned.select(
        "vec_id",
        "label",
        "cell_id",
        _residual(F.col("embedding"), F.col("cell_id"), cells).alias(
            "embedding"
        ),
    )
    books = pq_train(res.select("vec_id", "embedding"))
    spark = embeddings.sparkSession

    enc = res.select(
        "vec_id",
        "label",
        "cell_id",
        *_codes(books),
    )
    q_emb = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    cells_df = spark.createDataFrame(
        [(cid, cent) for cid, cent in cells], "cell_id long, ccent array<double>"
    )
    probe = (
        cells_df.crossJoin(F.broadcast(q_emb))
        .select(
            "cell_id",
            F.round(_sqdist(F.col("ccent"), F.col("q_emb")), 6).alias("qcd"),
        )
        .orderBy(F.asc("qcd"), F.asc("cell_id"))
        .limit(IVFPQ_NPROBE)
        .select("cell_id")
    )
    cb = spark.createDataFrame(
        [
            (i, int(code), [float(v) for v in cent])
            for i, book in enumerate(books)
            for code, cent in book
        ],
        "m int, code long, bcent array<double>",
    )
    # per-(cell, m, code) distance table: || (q - c)_sub_m - bcent ||^2
    dt = cells_df.crossJoin(F.broadcast(cb)).crossJoin(F.broadcast(q_emb))
    qres = F.zip_with(
        F.col("q_emb"),
        F.col("ccent"),
        lambda x, y: x.cast("double") - y.cast("double"),
    )
    dt = dt.select("cell_id", "m", "code", _qd(qres, F.col("bcent")).alias("qd"))

    out = enc.join(F.broadcast(probe), "cell_id")
    for i in range(PQ_M):
        dt_i = dt.filter(F.col("m") == i).select(
            "cell_id",
            F.col("code").alias(f"code{i}"),
            F.col("qd").alias(f"qd{i}"),
        )
        out = out.join(F.broadcast(dt_i), ["cell_id", f"code{i}"])
    adc = reduce(operator.add, [F.col(f"qd{i}") for i in range(PQ_M)])
    return (
        out.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )


# ----------------------------------------------------------------------
# DuckDB oracle mirrors
# ----------------------------------------------------------------------
def _sqdist_sql(a: str, b: str, dsub: int = PQ_DSUB) -> str:
    """Seedless left-fold squared L2 — bit-identical to _sqdist
    (0.0 + x == x, then the same left-to-right order)."""
    term = (
        f"(CAST(({a})[i] AS DOUBLE) - CAST(({b})[i] AS DOUBLE)) * "
        f"(CAST(({a})[i] AS DOUBLE) - CAST(({b})[i] AS DOUBLE))"
    )
    return (
        f"list_reduce(list_transform(generate_series(1, {dsub}), "
        f"i -> {term}), (x, y) -> x + y)"
    )


def _train_ctes(table: str = "embeddings") -> tuple[str, str]:
    """Shared CTE chain replaying pq_train over ``table`` (must expose
    vec_id + embedding; the residual variant passes its res CTE):
    returns (ctes, final_cb). sub_e materializes the (vec_id, m, sub)
    tall view once; cb0 is the seed; each round is an argmin window +
    a grouped component-mean."""
    ms = ", ".join(f"({i})" for i in range(PQ_M))
    sub_expr = (
        f"list_transform(generate_series(1, {PQ_DSUB}), i -> embedding[ms.m * {PQ_DSUB} + i])"
    )
    parts = [
        f"ms AS (SELECT * FROM (VALUES {ms}) AS t(m))",
        f"sub_e AS (SELECT vec_id, ms.m AS m, {sub_expr} AS sub "
        f"FROM {table} CROSS JOIN ms)",
        f"cb0 AS (SELECT m, vec_id AS code, sub AS cent FROM sub_e "
        f"WHERE vec_id < {PQ_KSUB})",
    ]
    dist = _sqdist_sql("e.sub", "c.cent")
    comps = ", ".join(
        f"round(avg(CAST(sub[{i + 1}] AS DOUBLE)), 6)" for i in range(PQ_DSUB)
    )
    for it in range(1, PQ_ITER + 1):
        parts.append(
            f"""codes{it} AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, e.m, c.code,
      row_number() OVER (PARTITION BY e.vec_id, e.m
        ORDER BY round({dist}, 6) ASC, c.code ASC) AS rn
    FROM sub_e e JOIN cb{it - 1} c USING (m)) WHERE rn = 1)"""
        )
        parts.append(
            f"""cb{it} AS (
  SELECT s.m, x.code, [{comps}] AS cent
  FROM sub_e s JOIN codes{it} x ON s.vec_id = x.vec_id AND s.m = x.m
  GROUP BY s.m, x.code)"""
        )
    return ",\n".join(parts), f"cb{PQ_ITER}"


def _final_enc_cte(final_cb: str) -> str:
    dist = _sqdist_sql("e.sub", "c.cent")
    return f"""enc AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, e.m, c.code,
      row_number() OVER (PARTITION BY e.vec_id, e.m
        ORDER BY round({dist}, 6) ASC, c.code ASC) AS rn
    FROM sub_e e JOIN {final_cb} c USING (m)) WHERE rn = 1)"""


def pq_trained_sql(query_vec_id: int = QUERY_VEC_ID, k: int = TOPK) -> str:
    """Full replay of pq_topk_trained: training CTEs, final encoding,
    query distance tables, then the SAME fixed-order sum (codes pivoted
    wide so the 4 additions happen left-to-right, never via SUM() whose
    accumulation order is unspecified)."""
    ctes, final_cb = _train_ctes()
    qdist = _sqdist_sql("s.sub", "c.cent")
    wide = ", ".join(
        f"max(CASE WHEN m = {i} THEN code END) AS code{i}" for i in range(PQ_M)
    )
    joins = "\n".join(
        f"JOIN dt d{i} ON d{i}.m = {i} AND d{i}.code = w.code{i}"
        for i in range(PQ_M)
    )
    adc = " + ".join(f"d{i}.qd" for i in range(PQ_M))
    return f"""WITH {ctes},
{_final_enc_cte(final_cb)},
qsub AS (SELECT m, sub FROM sub_e WHERE vec_id = {query_vec_id}),
dt AS (SELECT c.m, c.code, round({qdist}, 6) AS qd
       FROM {final_cb} c JOIN qsub s USING (m)),
wide AS (SELECT vec_id, {wide} FROM enc GROUP BY vec_id),
scored AS (
  SELECT w.vec_id, round({adc}, 6) AS adc_dist
  FROM wide w
  {joins}
  WHERE w.vec_id <> {query_vec_id})
SELECT s.vec_id, e.label, s.adc_dist
FROM scored s JOIN embeddings e USING (vec_id)
ORDER BY s.adc_dist ASC, s.vec_id ASC LIMIT {k}
"""


def pq_code_histogram_sql() -> str:
    ctes, final_cb = _train_ctes()
    return f"""WITH {ctes},
{_final_enc_cte(final_cb)}
SELECT m, code, count(*) AS n_vecs FROM enc GROUP BY m, code
"""


def ivfpq_sql(query_vec_id: int = QUERY_VEC_ID, k: int = TOPK) -> str:
    """Full replay of :func:`ivfpq_topk`: PQ training + encoding CTEs
    (shared with pq_trained_sql), coarse cells = the first ``IVFPQ_NCELLS``
    full embeddings, per-vector coarse assignment as an argmin window
    over full-dim squared L2 (round 6, cell_id tiebreak — same as the
    Spark array_min-of-structs), the nprobe nearest cells to the query,
    then the SAME fixed-order ADC sum restricted to probed cells."""
    ctes, final_cb = _train_ctes()
    full = PQ_M * PQ_DSUB
    cdist = _sqdist_sql("e.embedding", "c.cent", full)
    qcdist = _sqdist_sql("c.cent", "q.q_emb", full)
    qdist = _sqdist_sql("s.sub", "c.cent")
    wide = ", ".join(
        f"max(CASE WHEN m = {i} THEN code END) AS code{i}" for i in range(PQ_M)
    )
    joins = "\n".join(
        f"JOIN dt d{i} ON d{i}.m = {i} AND d{i}.code = w.code{i}"
        for i in range(PQ_M)
    )
    adc = " + ".join(f"d{i}.qd" for i in range(PQ_M))
    return f"""WITH {ctes},
{_final_enc_cte(final_cb)},
cells AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings
          WHERE vec_id < {IVFPQ_NCELLS}),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({cdist}, 6) ASC, c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN cells c) WHERE rn = 1),
qv AS (SELECT embedding AS q_emb FROM embeddings
       WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT cell_id FROM (
    SELECT c.cell_id, round({qcdist}, 6) AS qcd
    FROM cells c CROSS JOIN qv q)
  ORDER BY qcd ASC, cell_id ASC LIMIT {IVFPQ_NPROBE}),
qsub AS (SELECT m, sub FROM sub_e WHERE vec_id = {query_vec_id}),
dt AS (SELECT c.m, c.code, round({qdist}, 6) AS qd
       FROM {final_cb} c JOIN qsub s USING (m)),
wide AS (SELECT vec_id, {wide} FROM enc GROUP BY vec_id),
scored AS (
  SELECT w.vec_id, round({adc}, 6) AS adc_dist
  FROM wide w
  JOIN assign a ON a.vec_id = w.vec_id
  JOIN probe p ON p.cell_id = a.cell_id
  {joins}
  WHERE w.vec_id <> {query_vec_id})
SELECT s.vec_id, e.label, s.adc_dist
FROM scored s JOIN embeddings e USING (vec_id)
ORDER BY s.adc_dist ASC, s.vec_id ASC LIMIT {k}
"""


def ivfpq_residual_sql(query_vec_id: int = QUERY_VEC_ID, k: int = TOPK) -> str:
    """Full replay of :func:`ivfpq_residual_topk`: coarse assignment,
    residuals, PQ training over the res CTE, encoding, per-probed-cell
    distance tables keyed (cell_id, m, code)."""
    full = PQ_M * PQ_DSUB
    cdist = _sqdist_sql("e.embedding", "c.cent", full)
    qcdist = _sqdist_sql("c.cent", "q.q_emb", full)
    ctes, final_cb = _train_ctes("res")
    # per-cell query-residual subvector distance to a book centroid:
    # ((q_i - c_i) - b_i)^2, left fold with a 0.0 seed
    term = (
        f"(CAST(q.q_emb[b.m * {PQ_DSUB} + i] AS DOUBLE)"
        f" - CAST(c.cent[b.m * {PQ_DSUB} + i] AS DOUBLE)"
        f" - CAST(b.cent[i] AS DOUBLE))"
    )
    qd = (
        f"list_reduce(list_transform(generate_series(1, {PQ_DSUB}), "
        f"i -> {term} * {term}), (x, y) -> x + y)"
    )
    wide = ", ".join(
        f"max(CASE WHEN m = {i} THEN code END) AS code{i}" for i in range(PQ_M)
    )
    joins = "\n".join(
        f"JOIN dt d{i} ON d{i}.cell_id = a.cell_id AND d{i}.m = {i} "
        f"AND d{i}.code = w.code{i}"
        for i in range(PQ_M)
    )
    adc = " + ".join(f"d{i}.qd" for i in range(PQ_M))
    return f"""WITH cells AS MATERIALIZED (
  SELECT vec_id AS cell_id, embedding AS cent FROM embeddings
  WHERE vec_id < {IVFPQ_NCELLS}),
assign AS MATERIALIZED (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({cdist}, 6) ASC, c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN cells c) WHERE rn = 1),
res AS MATERIALIZED (
  SELECT e.vec_id, list_transform(generate_series(1, {full}),
    i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
    AS embedding
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN cells c ON c.cell_id = a.cell_id),
{ctes},
{_final_enc_cte(final_cb)},
qv AS (SELECT embedding AS q_emb FROM embeddings
       WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT cell_id FROM (
    SELECT c.cell_id, round({qcdist}, 6) AS qcd
    FROM cells c CROSS JOIN qv q)
  ORDER BY qcd ASC, cell_id ASC LIMIT {IVFPQ_NPROBE}),
dt AS MATERIALIZED (
  SELECT c.cell_id, b.m, b.code, round({qd}, 6) AS qd
  FROM cells c CROSS JOIN {final_cb} b CROSS JOIN qv q),
wide AS (SELECT vec_id, {wide} FROM enc GROUP BY vec_id),
scored AS (
  SELECT w.vec_id, round({adc}, 6) AS adc_dist
  FROM wide w
  JOIN assign a ON a.vec_id = w.vec_id
  JOIN probe p ON p.cell_id = a.cell_id
  {joins}
  WHERE w.vec_id <> {query_vec_id})
SELECT s.vec_id, e.label, s.adc_dist
FROM scored s JOIN embeddings e USING (vec_id)
ORDER BY s.adc_dist ASC, s.vec_id ASC LIMIT {k}
"""
