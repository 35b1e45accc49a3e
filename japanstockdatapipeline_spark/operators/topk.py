"""Similarity search: exact cosine top-k, its LSH- and IVF-bucketed
approximations, and LSH near-dup pairs.

Reference: 00101_stock_factor_vectors.sql:59-96 — exact kNN by
cosine distance (deliberately no ANN index at ~3.7k vectors).
Scale path (BASELINE.json): at 100 TB the corpus side is huge but
the *query* side is small. `brute_force_topk_matmul` and
`hard_negative_topk_matmul` collect the queries into a matrix and
stream the corpus through ONE mapInArrow kernel (`_matmul_topk`):
a matmul per Arrow batch, the tie-exact per-batch cut the ADC
shortlist uses, then one window over the candidates.
`brute_force_topk` is the same ranking as Catalyst expressions — the
test reference and the only path for non-integral ids.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine_similarity
from .kmeans import (
    _batch_matrix,
    _centroids_of,
    _query_matrix,
    _rank_by_cos,
    _require_integral,
    _topk_rows,
    probe_cells,
)

__all__ = [
    "brute_force_topk",
    "brute_force_topk_matmul",
    "lsh_bucketed_topk",
    "ivf_topk",
    "lsh_planes",
    "lsh_signature_expr",
    "lsh_near_dup_pairs",
]


def lsh_planes(
    dim: int, n_planes: int = 4, n_tables: int = 8, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic random-hyperplane tables: tables[t][p] is a dim-long
    Gaussian vector. Shared by the Spark operator and the DuckDB oracle
    (which inlines these exact float literals), so both engines bucket
    identically."""
    import random

    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine: crossJoin(broadcast(queries)) + rank.

    Output: (q_id, neighbor_id, cos, rank) with deterministic
    tie-break (cos desc, neighbor_id asc).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("__cv")
    )
    q = queries.select(F.col(q_id_col), as_double_array(F.col(q_vec_col)).alias("__qv"))
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col(q_id_col))
    scored = pairs.select(
        q_id_col,
        "neighbor_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cos"),
    )
    return _rank_by_cos(scored, k, q_id_col)


def lsh_signature_expr(tables):
    """Builder for the per-vector LSH signature array expression.

    For hyperplane tables[t][p], the signature for table t is
    "t:<sign bits>" where bit p is 1 iff dot(vec, plane) >= 0 —
    pure Catalyst array folds, no UDF. Vectors share a signature
    exactly when all plane signs agree, so bucket candidacy is an
    equi-join on the signature string.
    """

    def signatures(vec_dbl):
        sigs = []
        for ti, planes in enumerate(tables):
            bits = []
            for p in planes:
                plane = F.array(*[F.lit(x) for x in p])
                d = F.aggregate(
                    F.zip_with(vec_dbl, plane, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
            sigs.append(F.concat(F.lit(f"{ti}:"), *bits))
        return F.array(*sigs)

    return signatures


def lsh_near_dup_pairs(
    vecs: DataFrame,
    threshold: float,
    *,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs with LSH blocking: candidates are pairs
    sharing >= 1 bucket signature (equi-join on the signature — a
    shuffle, never an all-pairs product), then the exact cosine >=
    threshold filter runs only on candidates.

    Output (id_a, id_b, cos), id_a < id_b, each pair once. Recall < 1
    by construction (pairs whose signs differ in every table are
    missed) and grows with n_tables; the brute-force all-pairs form is
    the test-only cross-check. This is the shape that survives 100 TB:
    per-bucket work is bounded by bucket occupancy, not corpus^2.
    """
    signatures = lsh_signature_expr(lsh_planes(dim, n_planes, n_tables, seed))
    v = vecs.select(
        F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__sig", F.explode(signatures(F.col("__v"))))
    a = v.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"), "__sig"
    )
    b = v.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), "__sig"
    )
    pairs = (
        a.join(b, "__sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.select(
            "id_a", "id_b", cosine_similarity(F.col("__va"), F.col("__vb")).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane (sign) LSH bucketing, then
    exact cosine within bucket. The scale path — turns the cross join
    into an equi-join on the bucket signature, i.e. a shuffle instead
    of an O(n*m) product. Recall < 1.0 by construction; `n_tables`
    independent hash tables union their candidates (each vector gets
    n_tables (table, signature) keys, so the join stays an equi-join).

    Pass `dim` explicitly to keep plan construction action-free; the
    fallback peeks one row from the (small by construction) query side,
    never the corpus.
    """
    if dim is None:
        row = queries.select(q_vec_col).first()
        if row is None or row[0] is None:
            raise ValueError("lsh_bucketed_topk: empty query set and no dim given")
        dim = len(row[0])
    tables = lsh_planes(dim, n_planes, n_tables, seed)
    signatures = lsh_signature_expr(tables)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(F.col(vec_col)).alias("__cv")
    ).withColumn("__sig", F.explode(signatures(F.col("__cv"))))
    q = queries.select(
        F.col(q_id_col), as_double_array(F.col(q_vec_col)).alias("__qv")
    ).withColumn("__sig", F.explode(signatures(F.col("__qv"))))
    pairs = c.join(F.broadcast(q), "__sig").filter(F.col("neighbor_id") != F.col(q_id_col))
    scored = pairs.dropDuplicates([q_id_col, "neighbor_id"]).select(
        q_id_col, "neighbor_id", cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cos")
    )
    return _rank_by_cos(scored, k, q_id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    n_probe: int = 2,
    coarse_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k, IVF-style: the corpus is inverted-listed by a
    coarse quantizer (here: an existing cluster/label column — in a
    full system, k-means cell ids), each query probes its `n_probe`
    nearest cell centroids, and exact cosine runs only inside probed
    cells.

    Scale shape: centroids are tiny (one row per cell) and broadcast;
    the probe assignment is a small cross join (queries x cells); the
    expensive scan is an equi-join corpus⋈probes on the cell id — a
    shuffle, never a full cross product. Recall grows with n_probe.
    """
    c = corpus.select(
        F.col(coarse_col).alias("cell"),
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("__cv"),
    )
    # cell centroids and the probe ranking are the k-means module's
    # (_centroids_of, probe_cells), so the registered IVF-over-kmeans
    # composition has one centroid and probe definition that cannot
    # drift between build and probe
    centroids = _centroids_of(c.select("cell", "__cv"), "__cv").select(
        "cell", F.col("__cvec").alias("__centroid")
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), as_double_array(F.col(q_vec_col)).alias("__qv")
    )
    pairs = c.join(F.broadcast(probe_cells(centroids, q, n_probe)), "cell").filter(
        F.col("neighbor_id") != F.col("q_id")
    )
    scored = pairs.select(
        F.col("q_id").alias(q_id_col),
        "neighbor_id",
        cosine_similarity(F.col("__cv"), F.col("__qv")).alias("cos"),
    )
    return _rank_by_cos(scored, k, q_id_col)


def _matmul_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    what: str,
    cols: tuple[str, str, str, str],
    labels: tuple[str, str] | None = None,
) -> DataFrame:
    """The one exact cosine top-k kernel. `cols` = (id, vec, q_id,
    q_vec); with `labels` = (label, q_label), same-label pairs are
    masked too and NULL labels drop out on both sides.

    The queries (small by construction) are collected at call time
    into a unit-norm matrix; the corpus streams through mapInArrow, each
    batch read as one flat float64 matrix (`_batch_matrix`) and scored
    with one `batch @ Q.T`. Self pairs (and same-label pairs) are
    masked BEFORE the per-batch cut (`_topk_rows` under (-cos, id)),
    so the union of per-batch cuts holds every query's global top-k
    exactly, ties included, and one window ranks it. A zero vector on
    either side scores cosine 0.0 (norm guarded to 1), never NaN."""
    id_col, vec_col, q_id_col, q_vec_col = cols
    c_cols = [F.col(id_col), as_double_array(F.col(vec_col))]
    q_cols = [F.col(q_id_col), as_double_array(F.col(q_vec_col))]
    checks = [(corpus, id_col), (queries, q_id_col)]
    if labels:
        # a NULL label can't be asserted different (SQL <>); dropping
        # them JVM-side also keeps the Arrow label column int64
        corpus = corpus.filter(F.col(labels[0]).isNotNull())
        queries = queries.filter(F.col(labels[1]).isNotNull())
        c_cols.append(F.col(labels[0]))
        q_cols.append(F.col(labels[1]))
        checks += [(corpus, labels[0]), (queries, labels[1])]
    _require_integral(what, *checks)
    rows = queries.select(*q_cols).collect()
    q_ids, Q = _query_matrix(rows, what)
    q_labels = np.array([r[2] for r in rows], dtype=np.int64) if labels else None
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)

    def batches(it):
        for rb in it:
            if rb.num_rows == 0 or not len(q_ids):
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            C = _batch_matrix(rb.column(1), Q.shape[1], what)
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            cos = (C / np.where(cn == 0, 1.0, cn)) @ Qn.T  # (batch, queries)
            score = -cos
            score[ids[:, None] == q_ids[None, :]] = np.inf  # self pairs
            if labels:
                lab = rb.column(2).to_numpy(zero_copy_only=False)
                score[lab[:, None] == q_labels[None, :]] = np.inf
            qi, ri = _topk_rows(score, ids, k)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(q_ids[qi]),
                    pa.array(ids[ri], type=pa.int64()),
                    pa.array(cos[ri, qi]),
                ],
                names=[q_id_col, "neighbor_id", "cos"],
            )

    cand = corpus.select(*c_cols).mapInArrow(
        batches, schema=f"{q_id_col} bigint, neighbor_id bigint, cos double"
    )
    return _rank_by_cos(cand, k, q_id_col)


def brute_force_topk_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine via numpy/BLAS (`_matmul_topk`): the
    registered exact path for integral ids, same rows and tie-break
    (cos desc, neighbor_id asc) as brute_force_topk at BLAS throughput
    instead of per-element Catalyst expression evaluation.

    Output: (q_id, neighbor_id, cos, rank); self pairs excluded."""
    return _matmul_topk(
        corpus, queries, k, "brute_force_topk_matmul",
        (id_col, vec_col, q_id_col, q_vec_col),
    )


def hard_negative_topk_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    q_label_col: str = "q_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the k corpus vectors MOST cosine-similar whose label DIFFERS from
    the query's — the near-miss negatives a contrastive/embedding
    trainer samples (north-star: training-data prep over an embedding
    column).

    The brute_force_topk_matmul kernel (`_matmul_topk`) with the
    same-label mask: same-label pairs are masked before the per-batch
    cut, so the top-k over the allowed (different-label) set stays
    exact. NULL-label rows on EITHER side are excluded (a NULL label
    can't be asserted different, matching SQL <> semantics — a
    NULL-label query yields no rows). Labels are compared as int64,
    so they must be integral like the ids.

    Output: (q_id, neighbor_id, cos, rank), tie-break (cos desc, id).
    """
    return _matmul_topk(
        corpus, queries, k, "hard_negative_topk_matmul",
        (id_col, vec_col, q_id_col, q_vec_col), (label_col, q_label_col),
    )
