"""Capture `.explain("formatted")` for every bench-flagged query (and
optionally every registered query) into plans/$SPARK_GRAFT_ROUND_DIR/<name>_<tag>.txt (default r13) —
the optimization-round evidence files (OPTIMIZATION_r12.md cites them).

For each query TWO plans are captured:
  <name>_<tag>.txt        — the full materialization plan (what a real
                            consumer of the query output executes)
  <name>_count_<tag>.txt  — the plan of df.groupBy().count(), i.e. the
                            exact plan bench.py's timed `.count()`
                            action runs (Dataset.count() executes
                            Aggregate[count(1)] over the child), so
                            column-pruning differences between the two
                            are visible evidence, not speculation.

Usage: python tools/plan_capture.py <tag> [--all] [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from japanstockdatapipeline_spark.plans import all_members, all_queries  # noqa: E402
from japanstockdatapipeline_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    tag = args[0] if args else "before"
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    include_all = "--all" in sys.argv

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_ROUND_DIR", "r13")
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("jsdp-plan-capture")
    queries = {**all_queries(), **all_members()}
    names = [n for n, q in queries.items() if q.bench or include_all]
    for name in sorted(names):
        q = queries[name]
        try:
            df = q.fn(spark, sf_dir)
            full = plan_of(df)
            cnt = plan_of(df.groupBy().count())
        except Exception as e:  # noqa: BLE001
            full = cnt = f"ERROR: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(full + "\n")
        with open(os.path.join(out_dir, f"{name}_count_{tag}.txt"), "w") as f:
            f.write(cnt + "\n")
        print(f"captured {name}")

    # the ANN serving probe (bench-only surface, pinned dial from
    # bench.bench_ann_split) — the index build is a multi-job procedure
    # with no single plan; the probe plan is the serving evidence
    from japanstockdatapipeline_spark.operators.kmeans import (  # noqa: E402
        ivf_pq_build,
        ivf_pq_probe,
    )
    from japanstockdatapipeline_spark.plans.similarity import _queries_df  # noqa: E402
    from japanstockdatapipeline_spark.sources.tables import load_table  # noqa: E402

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries_df(emb)
    handles: list = []
    index, cents = ivf_pq_build(
        emb, k_coarse=8, m=8, k_cells=16, residual=True, persisted_out=handles,
    )
    index = index.persist()
    cents = cents.persist()
    index.count()
    cents.count()
    probe = ivf_pq_probe(index, cents, qdf, emb, k=5, candidates=80, n_probe=2)
    with open(os.path.join(out_dir, f"embedding_ivfadc_probe_{tag}.txt"), "w") as f:
        f.write(plan_of(probe) + "\n")
    print("captured embedding_ivfadc_probe")
    for h in handles:
        h.unpersist()
    index.unpersist()
    cents.unpersist()


if __name__ == "__main__":
    main()
