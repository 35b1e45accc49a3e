"""r13 (r12 verdict #5): decompose the embedding_ivfadc_probe serving
wall into plan-CONSTRUCTION (driver-side: building the DataFrame —
py4j round trips + Catalyst trees), plan-REUSE execution (same
Dataset object re-counted: analysis/optimization cached), and the
fresh construct+execute wall the bench measures.

    python tools/probe_decomp.py [runs] [sf_dir]

Prints one JSON object with the three distributions.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from japanstockdatapipeline_spark.operators.kmeans import (  # noqa: E402
    ivf_pq_build,
    ivf_pq_probe,
)
from japanstockdatapipeline_spark.plans.similarity import _queries_df  # noqa: E402
from japanstockdatapipeline_spark.session import get_spark  # noqa: E402
from japanstockdatapipeline_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("jsdp-probe-decomp")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _queries_df(emb)
    handles: list = []
    index, cents = ivf_pq_build(
        emb, k_coarse=8, m=8, k_cells=16, residual=True,
        persisted_out=handles,
    )
    index = index.persist()
    cents = cents.persist()
    index.count()
    cents.count()

    def probe_df():
        return ivf_pq_probe(index, cents, queries, emb, k=5, candidates=80, n_probe=2)

    # warm everything once (JIT, shuffle service, Python workers)
    probe_df().count()

    construct, fresh, reuse = [], [], []
    for _ in range(runs):
        t0 = time.perf_counter()
        df = probe_df()
        construct.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        df.count()
        fresh.append(time.perf_counter() - t0)  # first execution of THIS plan
        t0 = time.perf_counter()
        df.count()
        reuse.append(time.perf_counter() - t0)  # same Dataset: plan cached

    def stats(xs):
        return {
            "min": round(min(xs), 3),
            "median": round(statistics.median(xs), 3),
            "all": [round(x, 3) for x in xs],
        }

    print(
        json.dumps(
            {
                "op": "probe_decomposition",
                "runs": runs,
                "construct_sec": stats(construct),
                "first_exec_sec": stats(fresh),
                "reused_plan_exec_sec": stats(reuse),
                "bench_equivalent_sec": stats(
                    [c + f for c, f in zip(construct, fresh)]
                ),
                "sf_dir": sf_dir,
            }
        )
    )
    for h in handles:
        h.unpersist()


if __name__ == "__main__":
    main()
