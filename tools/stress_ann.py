"""ANN/embedding-family stress at 10x the largest local testdata.

Builds a 20k-vector corpus in /tmp by replicating sf0.1 embeddings
K=10 times: replica 0 verbatim, replica i>0 perturbs the first
coordinate by +0.02*i (direction change, so replicas are near- but
not exact-duplicates in cosine). Then times the operators SCALE.md
claims survive scale-up:

  brute_force_topk_matmul (BLAS path), lsh_bucketed_topk, ivf_topk,
  lsh_near_dup_pairs

with 200 query vectors against the full corpus, and prints one JSON
line per measurement (for lsh/ivf also recall vs the brute-force
top-k on identical data). Run manually:

    python tools/stress_ann.py [K] [sf_dir]
"""

from __future__ import annotations

import json
import math
import sys
import time

sys.path.insert(0, ".")

from tools.calibration import calibrate as _calibrate  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from japanstockdatapipeline_spark.operators.topk import (  # noqa: E402
    brute_force_topk_matmul,
    ivf_topk,
    lsh_bucketed_topk,
    lsh_near_dup_pairs,
)
from japanstockdatapipeline_spark.session import get_spark  # noqa: E402

OUT = "/tmp/stress_embeddings.parquet"
K_NN = 10
DIM = 64


def build(spark, sf_dir: str, k: int) -> None:
    # crossJoin replication instead of a k-way union: identical rows
    # (vec_id + i*1e6, coord0 + 0.02*i), but the plan stays O(1) in k —
    # a 1000-way union (the 2M corpus) chokes Catalyst analysis
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    reps = spark.range(k).select(F.col("id").cast("int").alias("__i"))
    if k <= 100:
        # bit-identical to the r10 20k/200k corpora: replica i shifts
        # coord 0 by 0.02*i
        pert_coord = F.lit(0)
        mag = F.lit(0.02) * F.col("__i").cast("double")
    else:
        # k > 100 (the 2M corpus): a 1-D line at ANY step is unusable —
        # 0.02*i stretches to a 20-unit line whose far tail collapses
        # DIRECTIONALLY in cosine space (measured: recall 0.301 for
        # every index), and shrinking the step to fit puts the
        # inter-neighbor cosine gaps BELOW the 6dp determinism rails
        # (measured on the 0.002-step corpus: alternating top-10 gaps
        # 2e-9..5e-7, so ANY rounded ranker caps near 0.5 recall vs an
        # unrounded brute). Spread the replicas over a 16-coordinate
        # GRID instead: replica i perturbs coord (i % 16) by
        # 0.02*ceil(i/16) — every (base, coord) chain reproduces the
        # 200k corpus's 0.02-step local geometry (gaps ~1e-5, safely
        # above the rails), with 16x more chains
        pert_coord = F.col("__i") % 16
        mag = F.lit(0.02) * F.expr("CAST((__i + 15) DIV 16 AS DOUBLE)")
    u = e.crossJoin(reps).select(
        (F.col("vec_id") + F.col("__i").cast("bigint") * 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, j: F.when(j == pert_coord, x + mag).otherwise(x),
        ).alias("embedding"),
        "label",
    )
    u.repartition(32).write.mode("overwrite").parquet(OUT)


def timed(name: str, fn, extra=None) -> object:
    t0 = time.time()
    try:
        out = fn()
        rec = {"op": name, "sec": round(time.time() - t0, 2)}
        rec.update(out if isinstance(out, dict) else {"rows": out})
        rec.update(extra or {})
        print(json.dumps(rec))
        return out
    except Exception as e:
        print(json.dumps({"op": name, "error": str(e)[:200], "sec": round(time.time() - t0, 2)}))
        return None


TRAIN_SAMPLE = 100_000  # the Jégou-style quantizer training sample


def _drop_page_cache() -> bool:
    """Best-effort OS page-cache drop so a 'cold' disk probe is cold
    for real (the container runs as root; containers without /proc
    write access just report cache_dropped=false)."""
    try:
        import subprocess

        subprocess.run(["sync"], check=True, timeout=60)
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
        return True
    except Exception:
        return False


def _disk_probe(
    spark, index, cents, queries, corpus, n, *, k_coarse, m, k_cells,
    n_probe, cand, with_recall,
) -> None:
    """r12 verdict #4: probe the index FROM DISK, clustered by cell.
    All prior probe walls ride a persisted in-memory index; the 100-TB
    serving story is parquet clustered on the probe key, where the
    `isin(probed_cells)` filter prunes whole files/row-groups via
    footer min/max stats (no cluster holds a 100-TB index in cache).
    Writes the codes index range-partitioned + sorted by cell, audits
    the FOOTPRINT (files / row-groups whose cell range intersects the
    probed set — the bytes a stats-pruning scan must touch) for a
    SMALL serving batch and the full query set, and times the probe
    cold (page cache dropped) and warm."""
    import glob

    import pyarrow.parquet as pq

    from japanstockdatapipeline_spark.functions.vectors import as_double_array
    from japanstockdatapipeline_spark.operators.kmeans import (
        ivf_pq_probe,
        probe_cells,
    )

    path = "/tmp/stress_ivf_index.parquet"
    n_files = max(16, 2 * k_coarse)
    t0 = time.time()
    (
        index.repartitionByRange(n_files, "cell")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .parquet(path)
    )
    write_sec = round(time.time() - t0, 2)
    disk = spark.read.parquet(path)

    def footprint(qs):
        qv = qs.select(
            F.col("q_id"), as_double_array(F.col("q_vec")).alias("__qv")
        )
        probed = sorted(
            r["cell"]
            for r in probe_cells(cents, qv, n_probe).select("cell").distinct().collect()
        )
        files = sorted(glob.glob(path + "/*.parquet"))
        f_hit = rg_total = rg_hit = 0
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            hit = False
            for r in range(md.num_row_groups):
                rg = md.row_group(r)
                rg_total += 1
                col = next(
                    rg.column(j)
                    for j in range(rg.num_columns)
                    if rg.column(j).path_in_schema == "cell"
                )
                mn, mx = col.statistics.min, col.statistics.max
                if any(mn <= c <= mx for c in probed):
                    rg_hit += 1
                    hit = True
            f_hit += hit
        return probed, len(files), f_hit, rg_total, rg_hit

    # serving-batch footprint: a SMALL batch probes few cells, so the
    # clustered layout prunes most files — the fraction the fanout
    # argument (n_probe/k_coarse per query) predicts
    small = queries.orderBy("q_id").limit(8)
    for tag, qs in (("batch8", small), ("full", queries)):
        probed, nf, fh, rgt, rgh = footprint(qs)
        print(json.dumps({
            "op": f"ivfadc_disk_footprint_{tag}_k{k_coarse}_m{m}_kc{k_cells}",
            "n_corpus": n, "n_queries": qs.count(), "n_probe": n_probe,
            "probed_cells": len(probed), "k_coarse": k_coarse,
            "n_files": nf, "files_touched": fh,
            "rowgroups": rgt, "rowgroups_touched": rgh,
        }))

    dropped = _drop_page_cache()
    t0 = time.time()
    rec = with_recall(
        ivf_pq_probe(
            disk, cents, queries, corpus, k=K_NN,
            candidates=cand, n_probe=n_probe,
        )
    )
    cold_sec = round(time.time() - t0, 2)
    t0 = time.time()
    ivf_pq_probe(
        disk, cents, queries, corpus, k=K_NN, candidates=cand, n_probe=n_probe
    ).count()
    warm_sec = round(time.time() - t0, 2)
    rec.update({
        "op": f"ivfadc_disk_probe_k{k_coarse}_m{m}_kc{k_cells}_p{n_probe}_c{cand}",
        "n_corpus": n, "write_sec": write_sec, "cache_dropped": dropped,
        "cold_sec": cold_sec, "warm_sec": warm_sec,
        # actual files written (range partitions with no rows write none)
        "n_files": len(glob.glob(path + "/*.parquet")),
        "sec": cold_sec,
    })
    print(json.dumps(rec))


def _ivfadc_focus(spark, corpus, queries, n: int, with_recall) -> None:
    """Residual-coded IVFADC build/probe at the focus scales. The 200k
    grid runs the density-scaled code (k_cells=64) through the
    build-cost curve in k_coarse, sampled vs unsampled training, and
    the probe-fraction rule. The 2M grid is the r12
    CODE-BUDGET SWEEP (verdict #1): k_cells x m at the shipped probe
    dial, every build SAMPLED-trained (verdict #5: both quantizers
    train on the md5-pinned 100k sample, assignment is the only
    full-corpus pass) — the r11 unsampled kc64 build cost 1,035 s and
    recalled 0.727/0.806; the sweep finds the >=0.95-recall code at a
    fraction of that build wall. One config also probes FROM DISK
    (verdict #4, _disk_probe)."""
    from japanstockdatapipeline_spark.operators.kmeans import (
        ivf_pq_build,
        ivf_pq_probe,
    )

    k_sqrt = int(math.isqrt(n))
    p_sqrt = max(2, round(k_sqrt / 16))
    ts = TRAIN_SAMPLE
    # rows: (k_coarse, m, k_cells, train_sample, disk, sweeps)
    if n > 500_000:
        grid = (
            # r11 shipped dial, now sampled-trained: the build-wall and
            # recall-parity reference against the 1,035 s unsampled r11
            # row (recall there: 0.727 c80 / 0.806 c320)
            (16, 8, 64, ts, False, ((2, 80), (2, 320))),
            # the code-budget sweep: +1/+2 codebook bits per subspace
            (16, 8, 128, ts, False, ((2, 80), (2, 320))),
            (16, 8, 256, ts, False, ((2, 80), (2, 320))),
            # halve dsub instead (16 subspaces of 4 dims, 96-bit
            # codes): the r12-measured DEFAULT dial — recall >= 0.95
            # at the shipped c80 shortlist with the CHEAPEST build of
            # the sweep. The n_probe=4 rows decompose the residual
            # recall loss (c320 recall saturates identically across
            # code budgets — the coarse probe, not the code, owns the
            # last ~3% at p2/k16), and this config also carries the
            # disk-clustered probe audit
            (16, 16, 64, ts, True, ((2, 80), (2, 320), (4, 80), (4, 320))),
            (16, 16, 128, ts, False, ((2, 80),)),
            (16, 16, 256, ts, False, ((2, 80),)),
        )
    else:
        grid = (
            # unsampled build cost: the build-cost curve in k_coarse
            (16, 8, 64, None, False, ()),
            # sampled training at 200k, with the disk probe (the
            # cold-index wall at BOTH scales)
            (16, 8, 64, ts, True, ((2, 80),)),
            # the default dial (m=16, kc=64 — the 2M sweep winner)
            # back-checked at 200k density
            (16, 16, 64, ts, False, ((2, 80),)),
            # probe fraction must TRACK k_coarse: p2 probes 2/64 of the
            # corpus (recall drops), p8 restores the 1/8 fraction
            (64, 8, 64, None, False, ((2, 80), (8, 80))),
            # k ~ sqrt(n) production pairing with the density-scaled code
            (k_sqrt, 8, 64, None, False, ((p_sqrt, 80),)),
        )
    for k_coarse, m, k_cells, tsamp, disk, sweeps in grid:
        t_b = time.time()
        handles: list = []
        index, cents = ivf_pq_build(
            corpus, k_coarse=k_coarse, m=m, k_cells=k_cells,
            residual=True, persisted_out=handles, train_sample=tsamp,
        )
        index = index.persist()
        cents = cents.persist()
        index.count()
        cents.count()
        build_sec = round(time.time() - t_b, 2)
        tag = f"ts{tsamp // 1000}k" if tsamp else "full"
        if not sweeps:
            print(json.dumps({
                "op": f"ivfadc_build_k{k_coarse}_m{m}_kc{k_cells}_{tag}",
                "n_corpus": n, "k_coarse": k_coarse,
                "train_sample": tsamp, "build_sec": build_sec,
                "sec": build_sec,
            }))
        for n_probe, cand in sweeps:
            # r11 verdict #2: probe twice — the BLAS ADC shortlist is
            # the serving wall under test; min-of-2 separates it from
            # one-off JIT/Arrow warmup inside a 500 s suite
            walls, rec = [], {}
            for _ in range(2):
                t_p = time.time()
                rec = with_recall(
                    ivf_pq_probe(
                        index, cents, queries, corpus, k=K_NN,
                        candidates=cand, n_probe=n_probe,
                    )
                )
                walls.append(round(time.time() - t_p, 2))
            rec.update(
                {
                    "op": f"ivfadc_focus_k{k_coarse}_m{m}_kc{k_cells}_p{n_probe}_c{cand}"
                    + (f"_ts{tsamp // 1000}k" if tsamp else ""),
                    "n_corpus": n,
                    "k_coarse": k_coarse,
                    "m": m,
                    "k_cells": k_cells,
                    "n_probe": n_probe,
                    "candidates": cand,
                    "train_sample": tsamp,
                    "build_sec": build_sec,
                    "probe_sec": min(walls),
                    "probe_walls": walls,
                }
            )
            rec["sec"] = round(build_sec + rec["probe_sec"], 2)
            print(json.dumps(rec))
        if disk and sweeps:
            n_probe, cand = sweeps[0]
            _disk_probe(
                spark, index, cents, queries, corpus, n,
                k_coarse=k_coarse, m=m, k_cells=k_cells,
                n_probe=n_probe, cand=cand, with_recall=with_recall,
            )
        index.unpersist()
        cents.unpersist()
        for h in handles:
            h.unpersist()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    focus_ivfadc = "--focus-ivfadc" in sys.argv
    k = int(args[0]) if args else 10
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stress-ann")
    t0 = time.time()
    build(spark, sf_dir, k)
    corpus = spark.read.parquet(OUT)
    n = corpus.count()
    print(json.dumps({"op": "build", "rows": n, "k": k, "sec": round(time.time() - t0, 2)}))

    # THE shared fixed-cost calibration row (tools/calibration.py,
    # same as bench.py): separates rig drift from operator regressions
    print(json.dumps({"op": "calibration", "sec": _calibrate(spark)}))

    # ~200 queries at ANY k (r11: the old `% 1000` filter selects 2
    # base ids per replica, i.e. 2k queries — at k=1000 that is 2,000
    # queries, and the probe's local-top emission and the brute matmul
    # both scale with it, measuring query-batch size instead of corpus
    # size). Keep every base-id-divisible-by-1000 vector but thin the
    # replica axis to ~100 replicas.
    rep_mod = max(1, k // 100)
    queries = corpus.where(
        (F.col("vec_id") % 1000 == 0)
        & (F.expr("vec_id DIV 1000000") % rep_mod == 0)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    nq = queries.count()
    print(json.dumps({"op": "queries", "rows": nq}))

    exact = timed(
        "brute_force_topk_matmul",
        lambda: {
            "rows": brute_force_topk_matmul(corpus, queries, K_NN).count(),
            "n_queries": nq,
        },
    )
    t_b2 = time.time()
    exact_set = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk_matmul(corpus, queries, K_NN).collect()
    }
    # second brute sample (warm) — the fair min-of-2 counterpart to
    # the probe rows' min-of-2 (r11 verdict #2's <=0.5x-brute bar)
    print(json.dumps({
        "op": "brute_force_topk_matmul_warm", "sec": round(time.time() - t_b2, 2),
    }))

    def with_recall(df):
        got = {(r["q_id"], r["neighbor_id"]) for r in df.collect()}
        return {
            "rows": len(got),
            "recall_vs_exact": round(len(got & exact_set) / max(len(exact_set), 1), 3),
        }

    if focus_ivfadc:
        # 10x-the-10x validation run (r9 verdict #5): the residual-
        # coded IVFADC build/probe suite alone at the caller's K
        # (stress_report uses K=100 -> 200k vectors), checking that
        # the k ~ sqrt(n) and n_probe extrapolations measured at 20k
        # still hold an order of magnitude up: recall >= 0.95 at the
        # scaled dials, probe wall sublinear vs the brute scan.
        _ivfadc_focus(spark, corpus, queries, n, with_recall)
        return

    # hard-negative mining (round-8): same BLAS scan with the
    # same-label mask — the wall should track brute force (one extra
    # int64 compare per cell), priced here so the contrastive-prep
    # path has its own number
    def hard_neg():
        from japanstockdatapipeline_spark.operators.topk import hard_negative_topk_matmul

        ql = corpus.where(F.col("vec_id") % 1000 == 0).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("label").alias("q_label"),
        )
        return {"rows": hard_negative_topk_matmul(corpus, ql, K_NN).count()}

    timed("hard_negative_topk_matmul", hard_neg)

    # Matryoshka truncation DIM SWEEP (r9 single point -> r10 curve,
    # verdict #7): exact top-k on the first m of 64 dims for m in
    # {8,16,32,48} — the dimension-pruning serving dial as a
    # selection-curve TABLE (recall vs compute saved), measured on TWO
    # corpora so the data-dependence is visible in the artifact:
    #   - the replica corpus (10 near-dup copies per base vector whose
    #     perturbation lives in coord 0, which every truncation keeps:
    #     the favorable case — neighbors stay neighbors in any prefix)
    #   - i.i.d. random vectors (no MRL-trained prefix: the floor —
    #     prefix cosine is nearly uncorrelated with full-dim cosine).
    # A real MRL-trained embedding sits between the two; the audit
    # exists to MEASURE where, not to assume.
    def matryoshka(cor, qs, exact_ref, m: int):
        cm = cor.withColumn(
            "embedding", F.slice(F.col("embedding").cast("array<double>"), 1, m)
        )
        qm = qs.withColumn(
            "q_vec", F.slice(F.col("q_vec").cast("array<double>"), 1, m)
        )
        got = {
            (r["q_id"], r["neighbor_id"])
            for r in brute_force_topk_matmul(cm, qm, K_NN).collect()
        }
        return {
            "rows": len(got),
            "recall_vs_exact": round(len(got & exact_ref) / max(len(exact_ref), 1), 3),
        }

    for m in (8, 16, 32, 48):
        timed(
            f"matryoshka_topk_dim{m}",
            lambda m=m: matryoshka(corpus, queries, exact_set, m),
            extra={"dim": m, "corpus": "replica"},
        )

    # the random-corpus floor: same size, same queries-by-id protocol
    rnd_corpus = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(DIM)),
                # deterministic pseudo-random in [-0.5, 0.5): md5-seeded,
                # no Math.random (stable across runs and engines)
                lambda j: (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.col("id").cast("string"), F.lit(":"), j.cast("string"))),
                            1, 8,
                        ), 16, 10,
                    ).cast("double") / F.lit(4294967296.0) - F.lit(0.5)
                ),
            ).alias("embedding"),
        )
        .persist()
    )
    rnd_queries = rnd_corpus.where(F.col("vec_id") % 1000 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    rnd_exact = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk_matmul(rnd_corpus, rnd_queries, K_NN).collect()
    }
    for m in (8, 16, 32, 48):
        timed(
            f"matryoshka_random_dim{m}",
            lambda m=m: matryoshka(rnd_corpus, rnd_queries, rnd_exact, m),
            extra={"dim": m, "corpus": "random"},
        )
    rnd_corpus.unpersist()

    timed(
        "lsh_bucketed_topk",
        lambda: with_recall(lsh_bucketed_topk(corpus, queries, K_NN, dim=DIM)),
    )
    timed(
        "ivf_topk",
        lambda: with_recall(ivf_topk(corpus, queries, K_NN, n_probe=2)),
        # the DEGENERATE coarse-quantizer baseline, kept on purpose:
        # label cells are not geometric, so recall ~0 — the row that
        # motivates the kmeans-cell pairing below (SCALE.md ANN table)
        extra={"note": "degenerate label-cell baseline"},
    )

    def ivf_kmeans():
        from japanstockdatapipeline_spark.operators.kmeans import kmeans_cells

        cells = kmeans_cells(corpus, k=16, iters=2).select("vec_id", "cell")
        quantized = corpus.join(cells, "vec_id")
        return with_recall(
            ivf_topk(quantized, queries, K_NN, n_probe=2, coarse_col="cell")
        )

    timed("ivf_topk_kmeans_cells", ivf_kmeans)

    # PQ compression + ADC serving (round-7): code-assignment wall and
    # mean reconstruction cosine at 20k, then the ADC top-k with recall
    # vs the exact-cosine set (cross-metric: ADC ranks by compressed
    # L2 — the honest number a PQ rollout reviews)
    def pq_audit():
        from japanstockdatapipeline_spark.operators.kmeans import pq_codes

        row = (
            pq_codes(corpus, m=8, k=16, iters=2)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.avg("pq_recon_cos"), 4).alias("mean_recon_cos"),
            )
            .collect()[0]
        )
        return {"rows": row["n"], "mean_recon_cos": row["mean_recon_cos"]}

    timed("pq_codes", pq_audit)

    def pq_adc():
        from japanstockdatapipeline_spark.operators.kmeans import pq_adc_topk

        return with_recall(pq_adc_topk(corpus, queries, k=K_NN))

    timed("pq_adc_topk", pq_adc)

    def pq_rerank():
        from japanstockdatapipeline_spark.operators.kmeans import pq_adc_rerank_topk

        return with_recall(
            pq_adc_rerank_topk(corpus, queries, k=K_NN, candidates=4 * K_NN)
        )

    timed("pq_adc_rerank_topk", pq_rerank, extra={"candidates": 4 * K_NN})

    # build/probe split (round-7 verdict #5): an ANN index AMORTIZES
    # its build over many query batches, so the honest scale numbers
    # are (one-off build wall, per-batch probe wall) — the combined
    # row above re-pays the quantizer on every call. k ~ sqrt(n) is
    # the textbook IVF operating point (per-cell occupancy ~ sqrt(n),
    # probe cost n_probe * sqrt(n) rows); n_probe scales with k to
    # hold the probed corpus fraction roughly constant.
    def ivf_split(k_cells: int, n_probe: int, op: str):
        from japanstockdatapipeline_spark.operators.kmeans import kmeans_cells

        t_b = time.time()
        cells = kmeans_cells(corpus, k=k_cells, iters=2).select("vec_id", "cell")
        quantized = corpus.join(cells, "vec_id").persist()
        quantized.count()  # materialize the index
        build_sec = round(time.time() - t_b, 2)
        t_p = time.time()
        rec = with_recall(
            ivf_topk(quantized, queries, K_NN, n_probe=n_probe, coarse_col="cell")
        )
        probe_sec = round(time.time() - t_p, 2)
        quantized.unpersist()
        rec.update(
            {
                "op": op,
                "k_cells": k_cells,
                "n_probe": n_probe,
                "build_sec": build_sec,
                "probe_sec": probe_sec,
                "sec": round(build_sec + probe_sec, 2),
            }
        )
        print(json.dumps(rec))

    ivf_split(16, 2, "ivf_kmeans_split_k16")
    k_sqrt = int(math.isqrt(n))
    ivf_split(k_sqrt, max(2, round(k_sqrt / 16)), "ivf_kmeans_split_ksqrt")

    # FULL IVF-PQ pipeline split (round-7 verdict #6; residual coding
    # round 9): build the coarse cells + PQ codes + centroids ONCE
    # (persisted), then sweep the recall dials — n_probe buys back
    # what the coarse cut loses, candidates what the compression
    # loses, residual coding attacks the compression loss itself.
    # The operating point to ship is the cheapest config with
    # recall >= 0.95: measured IVFADC (residual) p2/c80 at recall 1.0
    # vs direct coding saturating at 0.935 until c320 (SCALE.md).
    def ivfpq_split(k_coarse: int, residual: bool, grid):
        from japanstockdatapipeline_spark.operators.kmeans import (
            ivf_pq_build,
            ivf_pq_probe,
        )

        t_b = time.time()
        handles: list = []
        index, cents = ivf_pq_build(
            corpus, k_coarse=k_coarse, m=8, k_cells=16,
            residual=residual, persisted_out=handles,
        )
        index = index.persist()
        cents = cents.persist()
        index.count()
        cents.count()
        build_sec = round(time.time() - t_b, 2)
        tag = "ivfadc" if residual else "ivfpq"
        for n_probe, cand_mult in grid:
            t_p = time.time()
            rec = with_recall(
                ivf_pq_probe(
                    index, cents, queries, corpus, k=K_NN,
                    candidates=cand_mult * K_NN, n_probe=n_probe,
                )
            )
            rec.update(
                {
                    "op": f"{tag}_split_k{k_coarse}_p{n_probe}_c{cand_mult * K_NN}",
                    "k_coarse": k_coarse,
                    "residual": residual,
                    "n_probe": n_probe,
                    "candidates": cand_mult * K_NN,
                    "build_sec": build_sec,
                    "probe_sec": round(time.time() - t_p, 2),
                }
            )
            rec["sec"] = round(build_sec + rec["probe_sec"], 2)
            print(json.dumps(rec))
        index.unpersist()
        cents.unpersist()
        for h in handles:
            h.unpersist()

    # direct coding: the r8 grid + the c320 point where it finally
    # reaches recall 1.0; residual coding: the shipped default dial
    # (p2/c80) plus its cheaper/deeper neighbors
    ivfpq_split(16, False, ((2, 4), (2, 8), (4, 8), (4, 32)))
    ivfpq_split(16, True, ((2, 4), (2, 8), (4, 8)))
    # the textbook k ~ sqrt(n) production pairing, residual-coded:
    # per-cell occupancy ~ sqrt(n) so the probed fraction stays flat as
    # the corpus grows; n_probe scales with k like the plain-IVF row
    ivfpq_split(k_sqrt, True, ((max(2, round(k_sqrt / 16)), 8),))
    # n_planes must scale with log2(corpus): the 4-plane default is
    # sized for the 200-vector registered query (16 buckets); at 20k
    # vectors it degrades to ~1250 docs/bucket and minutes of
    # quadratic bucket work (measured 773s — see SCALE.md). 10/12 is
    # the occupancy-scaled config; recall IMPROVES (more tables).
    timed(
        "lsh_near_dup_pairs_scaled",
        lambda: {
            "rows": lsh_near_dup_pairs(
                corpus, 0.9, n_planes=10, n_tables=12, dim=DIM
            ).count(),
            "threshold": 0.9,
            "planes": 10,
            "tables": 12,
        },
    )

    # SemDeDup at occupancy-scaled k: per-cell pairwise work is
    # sum(occ^2), so k must grow with the corpus (k ~ n / target_occ).
    # The replica corpus has 10 true semantic dups per base vector at
    # cos >= 0.9 — a k that splits those clusters loses them, so
    # kept-fraction + dup count tell both halves of the story.
    def sem(k_cells: int, thr: float):
        from japanstockdatapipeline_spark.operators.kmeans import semdedup

        # production shape: the quantizer assignment is persisted so
        # the self-join's two sides don't recompute it (the registered
        # member stays lazy for the oracle gate; earlier rounds timed
        # the lazy form, which doubled the quantizer cost). The
        # persisted handle is released between configs so the sweep
        # doesn't accumulate cached blocks.
        handles: list = []
        out = semdedup(
            corpus,
            k=k_cells,
            iters=2,
            threshold=thr,
            persist_assignment=True,
            persisted_out=handles,
        )
        kept = out.where("sem_kept").count()
        for h in handles:
            h.unpersist()
        return {"kept": kept, "total": n, "k_cells": k_cells, "threshold": thr}

    timed("semdedup_k16", lambda: sem(16, 0.9))
    timed("semdedup_k64", lambda: sem(64, 0.9))


if __name__ == "__main__":
    main()
