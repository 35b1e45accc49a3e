"""Similarity-search plans over the embeddings table.

Reference: 00101_stock_factor_vectors.sql:59-96 (exact cosine kNN);
north-star: ANN over an embedding column at 100 TB. Brute-force
top-k is the oracle-checked baseline; the LSH-bucketed variant is
the scale path (equi-join on signature instead of a cross join) and
gets a rows-only check (approximate by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine_similarity
from ..operators.topk import (
    brute_force_topk_matmul,
    hard_negative_topk_matmul,
    lsh_bucketed_topk,
    lsh_near_dup_pairs,
    lsh_planes,
)
from ..sources import load_table
from .registry import member, query

EMB_DIM = 64


def _queries_df(emb: DataFrame, every: int = 50) -> DataFrame:
    return emb.filter(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def _lsh_oracle_sql(
    k: int = 5, n_planes: int = 4, n_tables: int = 8, seed: int = 42, every: int = 50
) -> str:
    """DuckDB replica of lsh_bucketed_topk: the exact hyperplane floats
    are inlined as literals (repr round-trips IEEE doubles), so both
    engines compute identical bucket signatures; candidates, exact
    cosine, and the deterministic rank are then plain SQL."""
    tables = lsh_planes(EMB_DIM, n_planes, n_tables, seed)
    rows = []
    for t, planes in enumerate(tables):
        for p, v in enumerate(planes):
            lit = "[" + ", ".join(repr(x) for x in v) + "]"
            rows.append(f"({t}, {p}, {lit}::DOUBLE[])")
    values = ",\n      ".join(rows)
    return f"""
    WITH planes(tbl, pidx, pv) AS (VALUES
      {values}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
      SELECT e.vec_id,
             p.tbl::VARCHAR || ':' || string_agg(
               CASE WHEN list_dot_product(e.v, p.pv) >= 0 THEN '1' ELSE '0' END,
               '' ORDER BY p.pidx) AS sig
      FROM e, planes p
      GROUP BY e.vec_id, p.tbl
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
      FROM sigs q JOIN sigs c ON q.sig = c.sig
      WHERE q.vec_id % {every} = 0 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT cand.q_id, cand.neighbor_id,
             list_cosine_similarity(ec.v, eq.v) AS cos
      FROM cand JOIN e eq ON eq.vec_id = cand.q_id
                JOIN e ec ON ec.vec_id = cand.neighbor_id
    )
    SELECT q_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


_IVF_ORACLE_SQL = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT label, r.i AS i, v[r.i] AS x
           FROM e, LATERAL unnest(range(1, 65)) AS r(i)),
    comp AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
    cent AS (SELECT label, list(m ORDER BY i) AS centroid FROM comp GROUP BY label),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
    probes AS (
      SELECT q_id, qv, label FROM (
        SELECT q.q_id, q.qv, c.label,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.centroid), 6) DESC,
                          c.label ASC) AS pr
        FROM q CROSS JOIN cent c)
      WHERE pr <= 2
    ),
    scored AS (
      SELECT p.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.v, p.qv) AS cos
      FROM e JOIN probes p ON e.label = p.label
      WHERE e.vec_id <> p.q_id
    )
    SELECT q_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """


@member(
    "embedding_knn_topk",
    doc="T2/J8 exact cosine top-k (00101:86-96): one BLAS matmul per "
    "Arrow batch against the collected queries + per-query rank; "
    "deterministic tie-break (cos desc, id).",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
      FROM embeddings WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    bench=True,
)
def embedding_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact brute force via the BLAS path (4.6x the Catalyst-expression
    # form, bit-identical ranks on the testdata)
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk_matmul(emb, _queries_df(emb), k=5)
    return out.select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("cos"), F.col("rank").cast("int")
    )


# Matryoshka truncation dial (round 9): serve ANN on a PREFIX of the
# embedding (Kusupati et al. 2022, Matryoshka Representation Learning
# — nested prefixes trained to be usable at reduced dim). Alongside
# int8 quantization and PQ this is the third serving-cost dial; the
# audit question is the same as PQ's: what does truncated-dim ranking
# recall against the full-dim exact top-k.
MAT_DIM = 16


@member(
    "embedding_matryoshka_topk",
    doc="Truncated-dimension exact top-k (the Matryoshka serving "
    f"audit, Kusupati et al. 2022): cosine over the first {MAT_DIM} of "
    f"{EMB_DIM} dims only — 4x less compute/bandwidth per comparison — "
    "same query set, tie-break, and k as embedding_knn_topk, so the "
    "ann_topk_panel row shows full-dim vs truncated-dim rankings "
    "side by side (the recall-vs-cost table a dimension-pruning "
    "rollout reviews). Same BLAS scan shape as the knn member; "
    "truncation is a slice expression in the scan. NOTE on expected "
    "values: the synthetic embeddings are random (no MRL-trained "
    "prefix structure), so measured truncation recall here is the "
    "FLOOR (~0.19 at dim 16 on sf0.01) — that low number is the "
    "audit working, exactly what this table would catch before a "
    "rollout on untrained prefixes.",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, list_slice(embedding::DOUBLE[], 1, {MAT_DIM}) AS q_vec
      FROM embeddings WHERE vec_id % 50 = 0
    ), scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(
               list_slice(e.embedding::DOUBLE[], 1, {MAT_DIM}), q.q_vec) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def embedding_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.slice(as_double_array(F.col("embedding")), 1, MAT_DIM)
    )
    out = brute_force_topk_matmul(emb, _queries_df(emb), k=5)
    return out.select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("cos"), F.col("rank").cast("int")
    )


@member(
    "embedding_lsh_topk",
    doc="ANN scale path (north-star): random-hyperplane LSH bucketing "
    "then exact cosine within bucket — no cross join, shuffle on the "
    "signature only. Value-checked: the oracle inlines the identical "
    "hyperplane constants, so DuckDB reproduces the exact bucket "
    "candidates, cosines, and ranks.",
    oracle=_lsh_oracle_sql(),
)
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # planes=4, tables=8: ~0.76 recall at ~half-corpus candidate cost (sf0.01)
    out = lsh_bucketed_topk(emb, _queries_df(emb), k=5, dim=EMB_DIM)
    return out.select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("cos"), F.col("rank").cast("int")
    )


@member(
    "embedding_hard_negatives",
    doc="Hard-negative mining for contrastive training (north-star: "
    "training-data prep over the embedding column): per query, the k "
    "most cosine-similar vectors whose LABEL DIFFERS — the near-miss "
    "negatives an embedding trainer samples. BLAS matmul scan with the "
    "same-label mask applied before the per-batch top-k; broadcast-size "
    "query set, no corpus join.",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(e.v, q.qv) AS cos
      FROM e CROSS JOIN q
      WHERE e.label <> q.q_label
    )
    SELECT q_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    out = hard_negative_topk_matmul(emb, q, k=5)
    return out.select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("cos"), F.col("rank").cast("int")
    )


@member(
    "embedding_label_centroid_sim",
    doc="F7 cosine against an aggregate centroid (factor-vectors.ts:"
    "319-333): per-label mean vector, each member's cosine to its "
    "label centroid — array agg + zip_with, no UDF.",
    oracle="""
    WITH ex AS (
      SELECT label, r.i AS i, (embedding::DOUBLE[])[r.i] AS x
      FROM embeddings, LATERAL unnest(range(1, 65)) AS r(i)
    ), comp AS (
      SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i
    ), cent AS (
      SELECT label, list(m ORDER BY i) AS centroid FROM comp GROUP BY label
    )
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) AS centroid_cos
    FROM embeddings e JOIN cent c ON e.label = c.label
    """,
)
def embedding_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", as_double_array(F.col("embedding"))
    )
    dim = 64
    # centroid per label: elementwise mean = sum of arrays / count,
    # computed as aggregate over collected arrays would shuffle big
    # lists; instead explode-free: posexplode is the scalable form,
    # but at dim=64 an array-of-avg via explode is one shuffle:
    ex = emb.select("label", F.posexplode("emb_d").alias("pos", "x"))
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )
    joined = emb.join(F.broadcast(cent), "label")
    return joined.select(
        "vec_id",
        "label",
        F.round(cosine_similarity(F.col("emb_d"), F.col("centroid")), 6).alias("centroid_cos"),
    )


@member(
    "embedding_ivf_topk",
    doc="ANN scale path #2 (north-star): IVF — inverted lists by coarse "
    "cell (label column as the quantizer), queries probe their 2 "
    "nearest cell centroids, exact cosine only inside probed cells. "
    "Value-checked: cells/centroids/probes are data-deterministic, so "
    "the oracle reproduces them in SQL; recall vs brute force is also "
    "unit-tested.",
    oracle=_IVF_ORACLE_SQL,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, _queries_df(emb), k=5, n_probe=2)
    return out.select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("cos"), F.col("rank").cast("int")
    )


def _coarse_probe_ctes(
    src: str, n_probe: int = 2, *, dim: int = EMB_DIM, every: int = 50
) -> str:
    """Shared coarse-quantizer probe CTE block (a, ex2, comp2, cent2,
    q, probes) over a `cells` CTE and a `src` CTE exposing
    (vec_id, v): per-cell mean centroids, the mod-`every` query
    carve-out, and the n_probe nearest-centroid pick. The probe-ranking
    cosine is ROUNDED to 6dp with ascending-cell tie-break, mirroring the
    Spark probes (operators/topk.ivf_topk, operators/kmeans.
    ivf_pq_probe): centroids are float avg() aggregates whose
    accumulation order the engines don't fix, so an unrounded
    near-tie could probe different cells per engine. ONE definition
    so the two composed oracles (_ivf_kmeans_oracle_sql,
    _ivf_pq_oracle_sql) cannot drift."""
    return f"""a AS (SELECT e.vec_id, c.cell, e.v
          FROM {src} e JOIN cells c ON c.vec_id = e.vec_id),
    ex2 AS (SELECT cell, r.i AS i, v[r.i] AS x
            FROM a, LATERAL unnest(range(1, {dim + 1})) AS r(i)),
    comp2 AS (SELECT cell, i, avg(x) AS m FROM ex2 GROUP BY cell, i),
    cent2 AS (SELECT cell, list(m ORDER BY i) AS centroid
              FROM comp2 GROUP BY cell),
    q AS (SELECT vec_id AS q_id, v AS qv FROM {src} WHERE vec_id % {every} = 0),
    probes AS (
      SELECT q_id, qv, cell FROM (
        SELECT q.q_id, q.qv, c.cell,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.centroid), 6) DESC,
                          c.cell ASC) AS pr
        FROM q CROSS JOIN cent2 c)
      WHERE pr <= {n_probe}
    )"""


def _near_dup_oracle_sql(
    threshold: float = 0.3, n_planes: int = 4, n_tables: int = 8, seed: int = 42, every: int = 10
) -> str:
    """DuckDB replica of lsh_near_dup_pairs on the vec_id % every slice:
    identical hyperplane literals -> identical bucket signatures ->
    identical candidate pairs -> exact cosine filter."""
    tables = lsh_planes(EMB_DIM, n_planes, n_tables, seed)
    rows = []
    for t, planes in enumerate(tables):
        for p, v in enumerate(planes):
            lit = "[" + ", ".join(repr(x) for x in v) + "]"
            rows.append(f"({t}, {p}, {lit}::DOUBLE[])")
    values = ",\n      ".join(rows)
    return f"""
    WITH planes(tbl, pidx, pv) AS (VALUES
      {values}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id % {every} = 0),
    sigs AS (
      SELECT e.vec_id,
             p.tbl::VARCHAR || ':' || string_agg(
               CASE WHEN list_dot_product(e.v, p.pv) >= 0 THEN '1' ELSE '0' END,
               '' ORDER BY p.pidx) AS sig
      FROM e, planes p
      GROUP BY e.vec_id, p.tbl
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b ON a.sig = b.sig
      WHERE a.vec_id < b.vec_id
    )
    SELECT cand.id_a, cand.id_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
    FROM cand JOIN e ea ON ea.vec_id = cand.id_a
              JOIN e eb ON eb.vec_id = cand.id_b
    WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
    """


@query(
    "embedding_near_dup_pairs",
    doc="Embedding-cosine near-dup (north-star dedup family): LSH "
    "bucket-blocked candidates (equi-join on signature — a shuffle, "
    "no all-pairs product), then the exact cosine >= 0.3 filter on "
    "candidates only. The oracle replicates the blocking with the "
    "same hyperplane literals; recall vs brute force is unit-tested.",
    oracle=_near_dup_oracle_sql(),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    pairs = lsh_near_dup_pairs(emb, threshold=0.3, dim=EMB_DIM)
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def _kmeans_ctes(k: int, iters: int, dim: int) -> str:
    """The kmeans_cells schedule unrolled over the `embeddings` table:
    `emb`, the k-smallest-id seeds `c0`, then for rounds r = 1..iters
    the 6dp-quantized cosine argmax `a{r}` (vec_id, v, cell, cos)
    against `c{r-1}`, with the per-cell elementwise mean `c{r}`
    between rounds — empty cells shrink away as in the operator."""
    ctes = [
        "emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, v AS c
      FROM emb QUALIFY row_number() OVER (ORDER BY vec_id ASC) <= {k}
    )""",
    ]
    for r in range(1, iters + 1):
        if r > 1:
            ctes.append(f"""cx{r - 1} AS (
      SELECT cell, r.i AS i, avg(v[r.i]) AS m
      FROM a{r - 1}, LATERAL unnest(range(1, {dim + 1})) AS r(i)
      GROUP BY cell, r.i
    ),
    c{r - 1} AS (SELECT cell, list(m ORDER BY i) AS c FROM cx{r - 1} GROUP BY cell)""")
        ctes.append(f"""a{r} AS (
      SELECT e.vec_id, e.v, s.cell,
             round(list_cosine_similarity(e.v, s.c), 6) AS cos
      FROM emb e CROSS JOIN c{r - 1} s
      QUALIFY row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY cos DESC, s.cell ASC) = 1
    )""")
    return ",\n    ".join(ctes)


def _kmeans_oracle_sql(k: int = 8, iters: int = 2, dim: int = EMB_DIM) -> str:
    """The embedding_kmeans_cells oracle at any (k, iters, dim)."""
    return f"""
    WITH {_kmeans_ctes(k, iters, dim)}
    SELECT vec_id, CAST(cell AS BIGINT) AS cell, cos AS cell_cos FROM a{iters}
    """


@member(
    "embedding_kmeans_cells",
    doc="K-means coarse quantizer (operators/kmeans.kmeans_cells): "
    "deterministic seeding (k smallest ids), 2 Lloyd assignment "
    "rounds — each one mapInArrow pass scoring the corpus against the "
    "driver's centroid matrix (6dp-quantized cosine argmax), then the "
    "per-cell elementwise mean, collected (k rows). The geometric "
    "cell assignment ivf_topk needs at scale (SCALE.md records "
    "label-cells bounding IVF recall); the oracle unrolls the "
    "identical schedule in SQL.",
    oracle=_kmeans_oracle_sql(),
)
def embedding_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_cells

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_cells(emb, k=8, iters=2)
    return out.select("vec_id", F.col("cell").cast("bigint").alias("cell"), "cell_cos")


def _ivf_kmeans_oracle_sql() -> str:
    """IVF probe logic over the GEOMETRIC k-means cells instead of the
    label column: the quantizer CTE is the embedding_kmeans_cells
    oracle (same schedule, seeding, quantized argmax), so the
    composed path is value-checked end to end."""
    return f"""
    WITH cells AS ({_kmeans_oracle_sql()}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_coarse_probe_ctes("e")},
    scored AS (
      SELECT p.q_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(a.v, p.qv) AS cos
      FROM a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.q_id
    )
    SELECT q_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """


@member(
    "embedding_ivf_kmeans_topk",
    doc="The PRODUCTION ANN composition (round 6): IVF inverted lists "
    "over the GEOMETRIC k-means quantizer — the pairing SCALE.md "
    "measured taking IVF recall from 0.0 (random label cells) to 1.0 "
    "on the 20k replica corpus, now registered and driver-checked. "
    "Scale shape: quantizer as audited in embedding_kmeans_cells (no "
    "window, one Arrow assignment pass), then the usual IVF equi-join "
    "on the cell id — never a corpus product.",
    oracle=_ivf_kmeans_oracle_sql(),
)
def embedding_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_cells
    from ..operators.topk import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cells = kmeans_cells(emb, k=8, iters=2).select("vec_id", "cell")
    quantized = emb.join(cells, "vec_id")
    out = ivf_topk(quantized, _queries_df(emb), k=5, n_probe=2, coarse_col="cell")
    return out.select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int"),
    )


@member(
    "embedding_semdedup",
    doc="Semantic deduplication (SemDeDup, Abbas et al. 2023 — "
    "operators/kmeans.semdedup): k-means cells (k=8, 2 Lloyd rounds, "
    "same deterministic schedule as embedding_kmeans_cells) + "
    "within-cell cosine >= 0.3 to a lower-id cell-mate => semantic "
    "dup of the smallest such id. The pairwise pass is an equi-join "
    "on the cell id, bounded by cell occupancy — never corpus^2; at "
    "scale k grows with the corpus so per-cell work stays flat. "
    "`sem_canonical` resolves the sem_dup_of pointer chain "
    "transitively (dup_clusters over the pointer edges) — it always "
    "lands on a KEPT representative, because pointers strictly "
    "decrease so every chain terminates at its component's min id, "
    "which has no lower-id pointer. The oracle replays the identical "
    "quantizer schedule, pair rule, and chain resolution (recursive "
    "pointer walk; min(cur) = the terminal since ids decrease).",
    oracle=f"""
    WITH RECURSIVE {_kmeans_ctes(8, 2, EMB_DIM)},
    dups AS (
      SELECT y.vec_id AS id_b, min(x.vec_id) AS sem_dup_of
      FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.3
      GROUP BY y.vec_id
    ),
    resolve AS (
      SELECT id_b, sem_dup_of AS cur FROM dups
      UNION ALL
      SELECT r.id_b, d2.sem_dup_of AS cur
      FROM resolve r JOIN dups d2 ON d2.id_b = r.cur
    ),
    canon AS (SELECT id_b, min(cur) AS canon FROM resolve GROUP BY id_b)
    SELECT a2.vec_id,
           CAST(a2.cell AS BIGINT) AS sem_cell,
           d.sem_dup_of,
           (d.sem_dup_of IS NULL) AS sem_kept,
           coalesce(c.canon, a2.vec_id) AS sem_canonical
    FROM a2 LEFT JOIN dups d ON d.id_b = a2.vec_id
         LEFT JOIN canon c ON c.id_b = a2.vec_id
    """,
)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, iters=2, threshold=0.3, canonical=True)


@member(
    "embedding_int8_quant",
    doc="Int8 embedding quantization audit (training-data op: 4x "
    "storage/bandwidth reduction for ANN serving — the symmetric "
    "scale-127 scheme): quantize each vector to int8, dequantize, and "
    "report the cosine between original and dequantized plus the L2 "
    "error — the per-vector audit a quantized-index rollout reviews. "
    "Scale: pure array expressions in the scan, zero shuffles.",
    oracle="""
    SELECT vec_id,
           round(list_cosine_similarity(
             embedding::DOUBLE[],
             list_transform(embedding::DOUBLE[],
               x -> least(greatest(round(x * 127.0), -127.0), 127.0) / 127.0)
           ), 6) AS quant_cos,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
             x -> pow(x - least(greatest(round(x * 127.0), -127.0), 127.0) / 127.0,
                      2)))), 6) AS quant_l2_err
    FROM embeddings
    """,
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb_d", as_double_array(F.col("embedding"))
    )
    dq = F.transform(
        "emb_d",
        lambda x: F.least(F.greatest(F.round(x * 127.0), F.lit(-127.0)), F.lit(127.0))
        / 127.0,
    )
    q = emb.withColumn("dq", dq)
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("emb_d", "dq", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return q.select(
        "vec_id",
        F.round(cosine_similarity(F.col("emb_d"), F.col("dq")), 6).alias("quant_cos"),
        F.round(l2, 6).alias("quant_l2_err"),
    )


def _pq_ctes(
    src: str, m: int = 8, k: int = 16, iters: int = 2, dim: int = EMB_DIM
) -> str:
    """The PQ training/coding CTE chain (through `codes`, which carries
    the per-vector reconstruction) over a `src` CTE exposing
    (vec_id, v) — shared by the embedding_pq_codes /
    embedding_pq_adc_topk / embedding_pq_rerank_topk / IVF-PQ oracles
    (src='emb', training on the raw vectors) AND the IVFADC residual
    oracle (src='res', training on the coarse residuals), so every PQ
    member replays the identical Lloyd schedule: k-smallest-id seeds
    sliced into m subspaces (`cb0`), then for rounds r = 1..iters the
    6dp-rounded L2 argmin `pa{r}` against `cb{r-1}`, with the
    per-(subspace, cell) mean `cb{r}` between rounds."""
    ds = dim // m
    ctes = [
        f"""seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell, v
      FROM {src} QUALIFY row_number() OVER (ORDER BY vec_id ASC) <= {k}
    )""",
        f"""sub AS (
      SELECT vec_id, r.j AS j, list_slice(v, r.j * {ds} + 1, r.j * {ds} + {ds}) AS sv
      FROM {src}, LATERAL unnest(range(0, {m})) AS r(j)
    )""",
        f"""cb0 AS (
      SELECT cell, r.j AS j, list_slice(v, r.j * {ds} + 1, r.j * {ds} + {ds}) AS cv
      FROM seeds, LATERAL unnest(range(0, {m})) AS r(j)
    )""",
    ]
    for r in range(1, iters + 1):
        if r > 1:
            ctes.append(f"""pcx{r - 1} AS (
      SELECT j, cell, r.i AS i, avg(sv[r.i]) AS m
      FROM pa{r - 1}, LATERAL unnest(range(1, {ds + 1})) AS r(i)
      GROUP BY j, cell, r.i
    ),
    cb{r - 1} AS (SELECT j, cell, list(m ORDER BY i) AS cv FROM pcx{r - 1} GROUP BY j, cell)""")
        ctes.append(f"""pa{r} AS (
      SELECT sub.vec_id, sub.j, cb.cell, sub.sv
      FROM sub JOIN cb{r - 1} cb USING (j)
      QUALIFY row_number() OVER (
        PARTITION BY sub.vec_id, sub.j
        ORDER BY round(list_sum(list_transform(range(1, {ds + 1}),
                  i -> (sv[i] - cb.cv[i]) * (sv[i] - cb.cv[i]))), 6) ASC,
                 cb.cell ASC) = 1
    )""")
    ctes.append(f"""codes AS (
      SELECT pa.vec_id,
             string_agg(pa.cell::VARCHAR, '-' ORDER BY pa.j) AS pq_code,
             flatten(list(cb.cv ORDER BY pa.j)) AS recon
      FROM pa{iters} pa JOIN cb{iters - 1} cb USING (j, cell)
      GROUP BY pa.vec_id
    )""")
    return ",\n    ".join(ctes)


_PQ_CTES = (
    """
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    """
    + _pq_ctes("emb")
)


def _pq_codes_oracle_sql(
    m: int = 8, k: int = 16, iters: int = 2, dim: int = EMB_DIM
) -> str:
    """The embedding_pq_codes oracle at any (m, k, iters, dim)."""
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_pq_ctes("emb", m, k, iters, dim)}
    SELECT c.vec_id, c.pq_code,
           round(sqrt(list_sum(list_transform(range(1, {dim + 1}),
             i -> (e.v[i] - c.recon[i]) * (e.v[i] - c.recon[i])))), 6) AS pq_l2_err,
           round(list_cosine_similarity(e.v, c.recon), 6) AS pq_recon_cos
    FROM codes c JOIN emb e USING (vec_id)
    """


@member(
    "embedding_pq_codes",
    doc="Product quantization (Jégou et al., TPAMI 2011 — the IVF-PQ/"
    "FAISS compression scheme; operators/kmeans.pq_codes): 8 subspaces "
    "of 8 dims, each with its own 16-cell codebook trained by the same "
    "deterministic Lloyd schedule as embedding_kmeans_cells (k-smallest-"
    "id seeds, 2 assignment rounds, 6dp-rounded L2 argmin, ascending-"
    "cell tie-break). Output: the 32-bit code per vector (vs 64 "
    "doubles — 128x) plus the reconstruction audit (L2 error + cosine "
    "to the original). Assignment is one mapInArrow pass per round "
    "against the driver's codebook (m*k sub-centroids, collected); "
    "the oracle unrolls the identical schedule in SQL.",
    oracle=_pq_codes_oracle_sql(),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codes(emb, m=8, k=16, iters=2)


@member(
    "embedding_pq_adc_topk",
    doc="IVF-PQ SERVING path (Jégou et al. 2011 §IV; operators/kmeans."
    "pq_adc_topk): asymmetric-distance top-5 — full-precision queries "
    "(every 50th vector) against the PQ-COMPRESSED corpus, ranked by "
    "ascending 6dp-rounded ADC distance (= exact L2 to the "
    "reconstruction, since subspaces partition the dims) with "
    "ascending-neighbor tie-break; the emitted cos is the TRUE cosine "
    "of each retrieved neighbor, directly comparable to the exact/"
    "LSH/IVF recall columns in ann_topk_panel. The oracle reuses the "
    "identical PQ CTE chain.",
    oracle=f"""
    WITH {_PQ_CTES},
    q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - c.recon[i]) * (q.qv[i] - c.recon[i]))), 6) AS adc
      FROM codes c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY adc ASC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT r.q_id, r.neighbor_id,
           round(list_cosine_similarity(eq.v, en.v), 6) AS cos,
           CAST(r.rank AS INT) AS rank
    FROM ranked r JOIN emb eq ON eq.vec_id = r.q_id
                  JOIN emb en ON en.vec_id = r.neighbor_id
    WHERE r.rank <= 5
    """,
)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, _queries_df(emb), k=5)


@member(
    "embedding_pq_rerank_topk",
    doc="Two-stage PQ serving (the production IVF-PQ recipe; operators/"
    "kmeans.pq_adc_rerank_topk — the ANN analog of the dedup family's "
    "lsh_verified_pairs composition): ADC scan -> 20-deep shortlist "
    "per query -> TRUE-cosine re-rank -> top-5. Exactness restored on "
    "the shortlist; candidates/k is the recall dial. Oracle extends "
    "the shared PQ CTE chain with the shortlist and the re-rank.",
    oracle=f"""
    WITH {_PQ_CTES},
    q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - c.recon[i]) * (q.qv[i] - c.recon[i]))), 6) AS adc
      FROM codes c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    shortlist AS (
      SELECT q_id, neighbor_id
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY q_id
                                 ORDER BY adc ASC, neighbor_id ASC) <= 20
    ),
    true_cos AS (
      SELECT s.q_id, s.neighbor_id,
             round(list_cosine_similarity(eq.v, en.v), 6) AS cos
      FROM shortlist s JOIN emb eq ON eq.vec_id = s.q_id
                       JOIN emb en ON en.vec_id = s.neighbor_id
    )
    SELECT q_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM true_cos)
    WHERE rank <= 5
    """,
)
def embedding_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import pq_adc_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_rerank_topk(emb, _queries_df(emb), k=5, candidates=20)


def _ivf_pq_oracle_sql(
    residual: bool,
    k_coarse: int = 8,
    m: int = 8,
    k_cells: int = 16,
    iters: int = 2,
    dim: int = EMB_DIM,
    candidates: int = 20,
    every: int = 50,
) -> str:
    """The full IVF-PQ pipeline oracle: the coarse-quantizer CTE is
    the embedding_kmeans_cells oracle; probing/centroids are the
    shared _coarse_probe_ctes block (literally the same SQL
    embedding_ivf_kmeans_topk composes); `rfull` is the indexed
    reconstruction; ADC runs over probed cells only, then the
    true-cosine re-rank of the `candidates`-deep shortlist.

    Direct coding trains the shared PQ chain on the raw vectors.
    RESIDUAL coding (IVFADC) trains it on the 6dp-rounded residuals
    v − centroid[cell(v)] (the `res` CTE) and indexes
    centroid + pq_recon — ADC against it is algebraically the paper's
    subtract-the-centroid distance. The residual rounding pins the PQ
    training input to one cross-engine value (coarse centroids are
    float avg() aggregates whose accumulation order the engines don't
    fix)."""
    if residual:
        coded = f"""res AS (
      SELECT a.vec_id,
             list_transform(range(1, {dim + 1}),
               i -> round(a.v[i] - c.centroid[i], 6)) AS v
      FROM a JOIN cent2 c USING (cell)
    ),
    {_pq_ctes("res", m, k_cells, iters, dim)},
    rfull AS (
      SELECT co.vec_id, a.cell,
             list_transform(range(1, {dim + 1}),
               i -> c2.centroid[i] + co.recon[i]) AS recon
      FROM codes co JOIN a ON a.vec_id = co.vec_id
                    JOIN cent2 c2 ON c2.cell = a.cell
    )"""
    else:
        coded = f"""{_pq_ctes("emb", m, k_cells, iters, dim)},
    rfull AS (
      SELECT co.vec_id, a.cell, co.recon
      FROM codes co JOIN a ON a.vec_id = co.vec_id
    )"""
    return f"""
    WITH cells AS ({_kmeans_oracle_sql(k_coarse, iters, dim)}),
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_coarse_probe_ctes("emb", dim=dim, every=every)},
    {coded},
    adc AS (
      SELECT p.q_id, rf.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, {dim + 1}),
               i -> (p.qv[i] - rf.recon[i]) * (p.qv[i] - rf.recon[i]))), 6) AS adc
      FROM rfull rf JOIN probes p ON rf.cell = p.cell
      WHERE rf.vec_id <> p.q_id
    ),
    shortlist AS (
      SELECT q_id, neighbor_id
      FROM adc
      QUALIFY row_number() OVER (PARTITION BY q_id
                                 ORDER BY adc ASC, neighbor_id ASC) <= {candidates}
    ),
    true_cos AS (
      SELECT s.q_id, s.neighbor_id,
             round(list_cosine_similarity(eq.v, en.v), 6) AS cos
      FROM shortlist s JOIN emb eq ON eq.vec_id = s.q_id
                       JOIN emb en ON en.vec_id = s.neighbor_id
    )
    SELECT q_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM true_cos)
    WHERE rank <= 5
    """


@member(
    "embedding_ivfpq_topk",
    doc="The FULL IVF-PQ serving pipeline as one driver-checked member "
    "(operators/kmeans.ivf_pq_rerank_topk): coarse k-means cells (k=8) "
    "-> per-vector PQ codes (8x16) -> queries probe their 2 nearest "
    "coarse centroids -> ADC over probed cells only -> 20-deep "
    "shortlist -> TRUE-cosine re-rank -> top-5. The Jégou pipeline end "
    "to end, every stage value-checked against the composed oracle "
    "(quantizer CTE = the kmeans oracle, PQ chain = the shared CTE "
    "block). Recall dials: (n_probe, candidates) — STRESS_r08 splits "
    "coarse-probe/ADC/re-rank cost. Building the plan runs the "
    "quantizers' bounded training collects and the O(queries x "
    "n_probe) probe-assignment collect the ADC Arrow pass closes over; "
    "the probed-cell set is frozen at call time.",
    oracle=_ivf_pq_oracle_sql(residual=False),
    # NOT bench-flagged: the combined row re-trains the index inside
    # the query and would report mostly build wall as serving cost —
    # bench.py carries the honest split (embedding_ivfadc_build
    # amortized / _probe per batch)
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import ivf_pq_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # the member PINS (m=8, k_cells=16): the oracle CTE replays
    # exactly this 32-bit dial, and at the registered 500-vector
    # scale the density rule wants the SMALL code — the production
    # default dial (ivf_pq_build) tracks the 2M-measured budget
    # instead (r12 sweep) and must not leak in here
    return ivf_pq_rerank_topk(
        emb, _queries_df(emb), k=5, candidates=20, n_probe=2, k_coarse=8,
        m=8, k_cells=16, residual=False,
    )


@member(
    "embedding_ivfadc_topk",
    doc="IVFADC — the RESIDUAL-coded IVF-PQ serving pipeline (Jégou et "
    "al., TPAMI 2011 §V, the form FAISS ships as IVFPQ; operators/"
    "kmeans.ivf_pq_rerank_topk with residual=True): PQ trains on and "
    "codes v − centroid[cell(v)] instead of v, so the codebook budget "
    "spends on within-cell detail after the coarse quantizer explains "
    "the between-cell variance — STRESS prices the recall gain over "
    "the direct-coded sibling at the same (m, k_cells) dial. Probe, "
    "shortlist, and re-rank are identical to embedding_ivfpq_topk, "
    "eager plan-time collects included; only the indexed "
    "reconstruction changes.",
    oracle=_ivf_pq_oracle_sql(residual=True),
)
def embedding_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import ivf_pq_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # pinned (m=8, k_cells=16) like embedding_ivfpq_topk — the oracle
    # replays this dial; production defaults track the 2M sweep
    return ivf_pq_rerank_topk(
        emb, _queries_df(emb), k=5, candidates=20, n_probe=2, k_coarse=8,
        m=8, k_cells=16, residual=True,
    )
