"""K-means coarse quantizer: determinism, partition sanity, and the
IVF-recall motivation — geometric cells recover what label cells lose
(SCALE.md 'IVF recall is bounded by quantizer quality')."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F
from tools.verify_local import normalize

from japanstockdatapipeline_spark.operators.kmeans import kmeans_cells
from japanstockdatapipeline_spark.operators.topk import brute_force_topk, ivf_topk
from japanstockdatapipeline_spark.plans.similarity import (
    _ivf_pq_oracle_sql,
    _kmeans_oracle_sql,
    _pq_codes_oracle_sql,
)


def _clustered_vectors(rng, n_clusters=3, per_cluster=30, dim=8):
    """Tight clusters around random unit directions; labels are
    assigned RANDOMLY (geometrically meaningless, like the testdata)."""
    rows = []
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + 0.05 * rng.normal(size=dim)
            rows.append(
                (vid, [float(x) for x in v], int(rng.integers(0, n_clusters)), ci)
            )
            vid += 1
    return rows


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(7)
    rows = _clustered_vectors(rng)
    return spark.createDataFrame(
        rows, ["vec_id", "embedding", "label", "true_cluster"]
    )


def test_kmeans_deterministic_and_partitions(spark, clustered):
    a = {r["vec_id"]: r["cell"] for r in kmeans_cells(clustered, k=3, iters=2).collect()}
    b = {r["vec_id"]: r["cell"] for r in kmeans_cells(clustered, k=3, iters=2).collect()}
    assert a == b  # deterministic run-to-run
    assert set(a) == set(range(90))  # every vector assigned exactly once


def test_kmeans_recovers_geometric_clusters(spark, clustered):
    """With k = #true clusters and tight clusters, the cell assignment
    must be a relabeling of the true clusters."""
    out = kmeans_cells(clustered, k=3, iters=3).join(
        clustered.select("vec_id", "true_cluster"), "vec_id"
    )
    rows = out.collect()
    mapping: dict[int, set[int]] = {}
    for r in rows:
        mapping.setdefault(r["true_cluster"], set()).add(r["cell"])
    # each true cluster maps to exactly one cell, and cells are distinct
    assert all(len(cells) == 1 for cells in mapping.values())
    assert len({next(iter(c)) for c in mapping.values()}) == 3


def test_ivf_recall_kmeans_vs_random_labels(spark, clustered):
    """IVF probing k-means cells beats IVF probing the random label
    column — the quantizer, not the plan shape, bounds recall."""
    queries = clustered.where(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk(clustered, queries, 5).collect()
    }
    cells = kmeans_cells(clustered, k=3, iters=2).select("vec_id", "cell")
    geo = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_topk(
            clustered.join(cells, "vec_id"), queries, 5, n_probe=1, coarse_col="cell"
        ).collect()
    }
    rnd = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_topk(clustered, queries, 5, n_probe=1, coarse_col="label").collect()
    }
    recall_geo = len(geo & exact) / len(exact)
    recall_rnd = len(rnd & exact) / len(exact)
    assert recall_geo == 1.0  # tight clusters + geometric cells: perfect
    assert recall_geo > recall_rnd


def test_semdedup_invariants_and_cluster_collapse(spark, clustered):
    """SemDeDup on tight clusters: every cluster collapses to (at
    least) one kept representative; dup_of always points at a
    smaller id in the same cell; kept/dup is a partition of rows."""
    from japanstockdatapipeline_spark.operators.kmeans import semdedup

    out = semdedup(clustered, k=3, iters=2, threshold=0.9)
    rows = out.collect()
    assert len(rows) == clustered.count()  # one verdict per vector
    by_id = {r["vec_id"]: r for r in rows}
    for r in rows:
        if r["sem_kept"]:
            assert r["sem_dup_of"] is None
        else:
            d = by_id[r["sem_dup_of"]]
            assert r["sem_dup_of"] < r["vec_id"]
            assert d["sem_cell"] == r["sem_cell"]
    # tight clusters at threshold 0.9: nearly everything is a dup of
    # its cluster's smallest id — kept count collapses to ~n_clusters
    kept = [r for r in rows if r["sem_kept"]]
    assert len(kept) < 10  # 90 vectors, 3 true clusters
    # the smallest id of every cell must be kept (nothing below it)
    cells = {}
    for r in rows:
        cells.setdefault(r["sem_cell"], []).append(r)
    for members in cells.values():
        first = min(members, key=lambda r: r["vec_id"])
        assert first["sem_kept"]


def test_semdedup_canonical_resolves_chains(spark):
    """ADVICE r5: sem_dup_of is 'a' lower-id neighbor, not the kept
    representative — canonical=True must resolve the pointer chain to
    the KEPT root. Chain: cos(1,2)>=t, cos(2,3)>=t, cos(1,3)<t -> 3
    points at 2 (itself a dup of 1), canonical(3) = 1."""
    import math

    from japanstockdatapipeline_spark.operators.kmeans import semdedup

    s = math.sqrt(0.5)
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [s, s]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: (r["sem_dup_of"], r["sem_kept"], r["sem_canonical"])
        for r in semdedup(vecs, k=1, iters=1, threshold=0.5, canonical=True).collect()
    }
    assert out == {
        1: (None, True, 1),
        2: (1, False, 1),
        3: (2, False, 1),   # transitively resolved past the dropped row 2
    }


def test_registered_semdedup_canonical_is_kept(spark, sf_dir):
    """The driver-checked member (canonical=True since round 7): every
    sem_canonical must be a kept representative, and kept rows map to
    themselves."""
    from japanstockdatapipeline_spark.plans import all_members

    rows = all_members()["embedding_semdedup"].fn(spark, sf_dir).collect()
    kept = {r["vec_id"] for r in rows if r["sem_kept"]}
    for r in rows:
        assert r["sem_canonical"] in kept
        if r["sem_kept"]:
            assert r["sem_canonical"] == r["vec_id"]


def test_pq_codes_structure_and_duplicate_consistency(spark):
    """PQ semantics: codes have m parts each in [0, k); identical
    vectors always get identical codes; the reconstruction audit is
    bounded (cos <= 1, err >= 0)."""
    from japanstockdatapipeline_spark.operators.kmeans import pq_codes

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 64))
    rows = []
    vid = 0
    for i in range(20):
        for _ in range(2):  # every vector duplicated
            rows.append((vid, [float(x) for x in base[i]]))
            vid += 1
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in pq_codes(vecs, m=8, k=16, iters=2).collect()}
    assert len(out) == 40
    by_vec = {}
    for vid, r in out.items():
        parts = r["pq_code"].split("-")
        assert len(parts) == 8 and all(0 <= int(p) < 16 for p in parts)
        assert r["pq_recon_cos"] <= 1.0 and r["pq_l2_err"] >= 0.0
        by_vec.setdefault(vid // 2, set()).add(r["pq_code"])
    # duplicates of the same base vector share one code
    assert all(len(codes) == 1 for codes in by_vec.values())


def test_pq_exact_reconstruction_when_corpus_is_codebook(spark):
    """When the corpus is exactly 16 distinct vectors (each repeated,
    with the 16 smallest ids covering all of them), Lloyd converges to
    those vectors as sub-centroids in every subspace: reconstruction
    is exact (err 0, cos 1)."""
    from japanstockdatapipeline_spark.operators.kmeans import pq_codes

    rng = np.random.default_rng(11)
    base = rng.normal(size=(16, 64))
    rows = [(i, [float(x) for x in base[i]]) for i in range(16)]
    rows += [(16 + i, [float(x) for x in base[i % 16]]) for i in range(32)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pq_codes(vecs, m=8, k=16, iters=2).collect()
    assert len(out) == 48
    for r in out:
        assert r["pq_l2_err"] == 0.0
        assert r["pq_recon_cos"] == 1.0


def test_pq_adc_topk_equals_exact_l2_when_reconstruction_exact(spark):
    """With an exactly-reconstructable corpus (16 distinct vectors
    repeated), ADC distance == true L2, so the ADC top-k must equal a
    numpy exact-L2 top-k under the same (round-6, ascending-id) rank
    rule."""
    from japanstockdatapipeline_spark.operators.kmeans import pq_adc_topk

    rng = np.random.default_rng(11)
    base = rng.normal(size=(16, 64))
    vecs_np = {i: base[i] for i in range(16)}
    vecs_np.update({16 + i: base[i % 16] for i in range(32)})
    rows = [(vid, [float(x) for x in v]) for vid, v in vecs_np.items()]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])

    queries = vecs.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = pq_adc_topk(vecs, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["neighbor_id"]))

    for q_id in (0, 10, 20, 30, 40):
        qv = vecs_np[q_id]
        scored = sorted(
            (round(float(((qv - v) ** 2).sum()), 6), vid)
            for vid, v in vecs_np.items()
            if vid != q_id
        )
        expected = [vid for _, vid in scored[:5]]
        assert [n for _, n in sorted(by_q[q_id])] == expected, q_id


def test_pq_rerank_recall_dominates_raw_adc(spark):
    """The two-stage form (ADC shortlist -> true-cosine re-rank) must
    retrieve at least as many true top-k neighbors as the raw ADC cut
    for every query, and its output must be cosine-sorted."""
    from japanstockdatapipeline_spark.operators.kmeans import (
        pq_adc_rerank_topk,
        pq_adc_topk,
    )
    from japanstockdatapipeline_spark.operators.topk import brute_force_topk

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(200)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = vecs.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk(vecs, queries, k=5).collect()
    }
    adc = {
        (r["q_id"], r["neighbor_id"])
        for r in pq_adc_topk(vecs, queries, k=5).collect()
    }
    rer_rows = pq_adc_rerank_topk(vecs, queries, k=5, candidates=20).collect()
    rer = {(r["q_id"], r["neighbor_id"]) for r in rer_rows}
    assert len(rer & exact) >= len(adc & exact)
    by_q = {}
    for r in rer_rows:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["cos"]))
    for ranked in by_q.values():
        cs = [c for _, c in sorted(ranked)]
        assert cs == sorted(cs, reverse=True)


def test_ivfadc_residual_reconstruction_beats_direct(spark):
    """Residual coding (IVFADC) must reconstruct a clustered corpus at
    least as well as direct coding at the SAME (m, k_cells) budget:
    with tight clusters, the coarse centroid explains most of each
    vector, so residuals concentrate near zero and the codebooks spend
    capacity on within-cell detail. We compare the mean L2 between
    each raw vector and its indexed reconstruction."""
    from japanstockdatapipeline_spark.operators.kmeans import ivf_pq_build

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 64))
    rows = []
    vid = 0
    for ci in range(4):
        for _ in range(40):
            v = centers[ci] + 0.1 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def mean_err(residual):
        handles = []
        index, _ = ivf_pq_build(
            vecs, k_coarse=4, m=8, k_cells=16, residual=residual,
            persisted_out=handles,
        )
        raw = vecs.select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
        err = (
            index.join(raw, "neighbor_id")
            .select(
                F.aggregate(
                    F.zip_with(
                        "embedding", "__recon", lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias("e2")
            )
            .agg(F.avg("e2"))
            .collect()[0][0]
        )
        for h in handles:
            h.unpersist()
        return err

    direct, resid = mean_err(False), mean_err(True)
    assert resid <= direct * 0.5, (resid, direct)


def test_ivfadc_rerank_matches_brute_on_probed_cells(spark, clustered):
    """With residual coding and all cells probed, a deep-enough
    shortlist makes the serving pipeline exact: top-5 equals brute
    force on the clustered fixture."""
    from japanstockdatapipeline_spark.operators.kmeans import ivf_pq_rerank_topk

    queries = clustered.filter(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk(clustered, queries, k=5).collect()
    }
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_pq_rerank_topk(
            clustered, queries, k=5, candidates=90, n_probe=3, k_coarse=3,
            m=8, k_cells=16, dim=8, residual=True,
        ).collect()
    }
    assert got == exact


@pytest.fixture(scope="module")
def clustered_duck(clustered, tmp_path_factory):
    """DuckDB connection whose `embeddings` view is the clustered
    fixture written to parquet — the table the oracle builders read."""
    path = str(tmp_path_factory.mktemp("clustered") / "embeddings")
    clustered.select("vec_id", "embedding").coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return con


def _assert_matches_oracle(sdf, con, sql):
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) == len(drows)
    assert normalize(srows, sdf.columns) == normalize(drows, dcols)


@pytest.mark.parametrize("k,iters", [(3, 2), (5, 3)])
def test_kmeans_cells_matches_duckdb(spark, clustered, clustered_duck, k, iters):
    """Same seeding, same 6dp HALF_UP argmax with min-cell ties, same
    empty-cell shrinkage as the member oracle, at (k, iters) off the
    registered dial — (5, 3) on three tight clusters shrinks cells."""
    _assert_matches_oracle(
        kmeans_cells(clustered, k=k, iters=iters),
        clustered_duck,
        _kmeans_oracle_sql(k, iters, dim=8),
    )


@pytest.mark.parametrize("iters", [1, 2, 3])
def test_pq_codes_matches_duckdb(spark, clustered, clustered_duck, iters):
    """Same seeds, same 6dp HALF_UP distance argmin with min-cell
    ties, same shrinkage, same codebook means (the reconstruction
    audit columns are computed from them)."""
    from japanstockdatapipeline_spark.operators.kmeans import pq_codes

    _assert_matches_oracle(
        pq_codes(clustered, m=4, k=5, iters=iters, dim=8),
        clustered_duck,
        _pq_codes_oracle_sql(m=4, k=5, iters=iters, dim=8),
    )


@pytest.mark.parametrize("residual", [False, True])
def test_ivf_pq_probe_matches_duckdb(spark, clustered, clustered_duck, residual):
    """The Arrow ADC probe against the composed IVF-PQ oracle: same
    probe cells, same 6dp-rounded shortlist order and boundary ties at
    a shallow (7-deep) shortlist, same re-rank — in both coding
    modes."""
    from japanstockdatapipeline_spark.operators.kmeans import (
        ivf_pq_build,
        ivf_pq_probe,
    )

    queries = clustered.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    handles = []
    index, cents = ivf_pq_build(
        clustered, k_coarse=3, m=8, k_cells=16, dim=8,
        residual=residual, persisted_out=handles,
    )
    _assert_matches_oracle(
        ivf_pq_probe(
            index, cents, queries, clustered, k=5, candidates=7, n_probe=2
        ),
        clustered_duck,
        _ivf_pq_oracle_sql(
            residual, k_coarse=3, m=8, k_cells=16, dim=8, candidates=7, every=20
        ),
    )
    for h in handles:
        h.unpersist()


def test_kmeans_cells_iters_guard_both_modes(spark, clustered):
    """iters < 1 must raise in both quantizers (k-means and PQ) before
    any job runs, not quietly run one assignment."""
    from japanstockdatapipeline_spark.operators.kmeans import _pq_reconstruct

    with pytest.raises(ValueError, match="iters"):
        kmeans_cells(clustered, k=3, iters=0)
    with pytest.raises(ValueError, match="iters"):
        _pq_reconstruct(clustered, m=4, k=5, iters=0, dim=8)


_BAD_VECTORS = {
    "null_row": [[1.0, 0.0], [0.9, 0.1], None, [0.0, 1.0]],
    "null_element": [[1.0, 0.0], [0.9, 0.1], [None, 0.5], [0.0, 1.0]],
    # lengths 3 + 1 cancel out: the batch still holds 4 x 2 elements
    "ragged": [[1.0, 0.0], [0.9, 0.1], [0.5, 0.5, 0.5], [1.0]],
}


@pytest.mark.parametrize("case", sorted(_BAD_VECTORS))
@pytest.mark.parametrize(
    "kernel",
    [
        "kmeans_cells",
        "_pq_reconstruct",
        "ivf_pq_probe",
        "brute_force_topk_matmul",
        "hard_negative_topk_matmul",
    ],
)
def test_vector_kernels_reject_null_and_ragged_rows(spark, kernel, case):
    """A null or wrong-length vector must fail DETERMINISTICALLY in
    every Arrow kernel (a silent reshape would misalign every later
    row of the batch), not produce wrong cells. One partition, so all
    four rows share one Arrow batch."""
    from japanstockdatapipeline_spark.operators import topk
    from japanstockdatapipeline_spark.operators.kmeans import (
        _pq_reconstruct,
        ivf_pq_probe,
    )

    df = spark.createDataFrame(
        list(enumerate(_BAD_VECTORS[case])), "vec_id long, embedding array<double>"
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(9, [1.0, 0.0], 2)], "q_id long, q_vec array<double>, q_label long"
    )
    if kernel == "brute_force_topk_matmul":
        out = topk.brute_force_topk_matmul(df, queries.drop("q_label"), k=2)
    elif kernel == "hard_negative_topk_matmul":
        out = topk.hard_negative_topk_matmul(df.withColumn("label", F.lit(1)), queries, k=2)
    elif kernel == "kmeans_cells":
        out = kmeans_cells(df, k=2, iters=1)
    elif kernel == "_pq_reconstruct":
        out = _pq_reconstruct(df, m=1, k=2, iters=1, dim=2)
    else:
        # the bad vectors are the index's reconstructions, all in cell 0
        corpus = df.select(
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0).alias("cell"),
            F.col("embedding").alias("__recon"),
        )
        cents = spark.createDataFrame([(0, [1.0, 0.0])], "cell int, __centroid array<double>")
        out = ivf_pq_probe(
            corpus, cents, queries.drop("q_label"), df, k=2, candidates=4, n_probe=1
        )
    with pytest.raises(Exception, match="needs non-null vectors of dim 2"):
        out.collect()


_BAD_QUERIES = {"null_query": [[1.0, 0.0], None], "ragged_query": [[1.0, 0.0], [1.0]]}


@pytest.mark.parametrize("case", [*sorted(_BAD_QUERIES), "no_queries"])
@pytest.mark.parametrize("kernel", ["brute_force_topk_matmul", "hard_negative_topk_matmul"])
def test_matmul_topk_query_side_inputs(spark, kernel, case):
    """The queries are collected when the frame is built: a null or
    ragged query vector raises a ValueError that names the operator,
    and an empty query set yields an empty (q_id, neighbor_id, cos,
    rank) frame, as brute_force_topk does."""
    from japanstockdatapipeline_spark.operators import topk

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label long",
    )
    queries = spark.createDataFrame(
        [(10 + i, v, 2) for i, v in enumerate(_BAD_QUERIES.get(case, []))],
        "q_id long, q_vec array<double>, q_label long",
    )
    if kernel == "brute_force_topk_matmul":
        queries = queries.drop("q_label")
    if case == "no_queries":
        out = getattr(topk, kernel)(corpus, queries, k=1)
        assert out.columns == ["q_id", "neighbor_id", "cos", "rank"]
        assert out.collect() == []
        return
    with pytest.raises(ValueError, match=kernel):
        getattr(topk, kernel)(corpus, queries, k=1)


def test_topk_kernels_break_ties_by_ascending_id(spark):
    """Nine identical vectors in one Arrow batch, ids written in
    descending order: every top-k kernel returns the ascending-id
    neighbours the expression form returns, since the per-batch cut
    keeps boundary ties by (score, id) rather than an arbitrary subset
    of the tied rows."""
    from japanstockdatapipeline_spark.operators.kmeans import pq_adc_topk
    from japanstockdatapipeline_spark.operators.topk import (
        brute_force_topk_matmul,
        hard_negative_topk_matmul,
    )

    v = [float(x) for x in range(1, 9)]
    corpus = spark.createDataFrame(
        [(i, v, 1) for i in range(9, 0, -1)],
        "vec_id long, embedding array<double>, label long",
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(100, v, 2)], "q_id long, q_vec array<double>, q_label long"
    )
    plain = queries.drop("q_label")

    def neighbours(df):
        return [r["neighbor_id"] for r in df.orderBy("rank").collect()]

    expected = neighbours(brute_force_topk(corpus, plain, k=2))
    assert expected == [1, 2]
    assert neighbours(brute_force_topk_matmul(corpus, plain, k=2)) == expected
    assert neighbours(hard_negative_topk_matmul(corpus, queries, k=2)) == expected
    assert (
        neighbours(pq_adc_topk(corpus, plain, k=2, m=2, k_cells=2, iters=1, dim=8))
        == expected
    )


def test_pq_blas_sampled_covering_sample_is_identity(spark, clustered):
    """train_sample >= corpus size must degenerate to the unsampled
    schedule exactly (the md5 order selects every row)."""
    from japanstockdatapipeline_spark.operators.kmeans import _pq_reconstruct

    base = sorted(
        (r["vec_id"], r["pq_code"])
        for r in _pq_reconstruct(
            clustered, m=4, k=5, iters=2, dim=8
        ).collect()
    )
    sampled = sorted(
        (r["vec_id"], r["pq_code"])
        for r in _pq_reconstruct(
            clustered, m=4, k=5, iters=2, dim=8,
            train_sample=10_000,
        ).collect()
    )
    assert base == sampled


def test_kmeans_blas_sampled_covering_sample_is_identity(spark, clustered):
    from japanstockdatapipeline_spark.operators.kmeans import kmeans_cells

    base = sorted(
        map(tuple, kmeans_cells(clustered, k=3, iters=2).collect())
    )
    sampled = sorted(
        map(
            tuple,
            kmeans_cells(
                clustered, k=3, iters=2, train_sample=10_000
            ).collect(),
        )
    )
    assert base == sampled


def test_ivf_pq_build_sampled_training_serves(spark, clustered):
    """Sampled training with a REAL subsample (30 of 90 rows) must
    still produce a servable index: every vector coded into a known
    cell, deterministic across runs, and the probe's recall against
    brute force stays high on the easy clustered fixture."""
    from japanstockdatapipeline_spark.operators.kmeans import (
        ivf_pq_build,
        ivf_pq_probe,
    )

    queries = clustered.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk(clustered, queries, k=5).collect()
    }

    def build_probe():
        handles = []
        index, cents = ivf_pq_build(
            clustered, k_coarse=3, m=4, k_cells=8, dim=8, residual=True,
            train_sample=30, persisted_out=handles,
        )
        got = ivf_pq_probe(
            index, cents, queries, clustered, k=5, candidates=30, n_probe=3
        ).collect()
        assert index.count() == 90
        for h in handles:
            h.unpersist()
        return sorted(map(tuple, got))

    a, b = build_probe(), build_probe()
    assert a == b  # deterministic across runs (md5-pinned sample)
    got = {(q, n) for q, n, _, _ in a}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, recall
