"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline comparables (BASELINE.md): full-universe metrics refresh
23.4 s over ~1.14 M rows; per-basket 2-yr windowed agg 0.5-7 s over
<=65 k rows. sf0.1 lineitem is ~600 k rows — same order.

Cross-round comparability (round-4 verdict item 2; round-9 items;
round-11 item 4; round-12 items 3/8):
- the warm-up query is PINNED (WARMUP below), not dict-order-dependent;
- each query reports min AND median of N_RUNS (medians in the diag
  side file);
- a fixed-cost calibration (spark.range(2e7) sum, no parquet, no
  Python) separates rig drift from plan regressions — INTERLEAVED
  between query blocks since r11: intra-run drift exceeds the
  per-query deltas being adjudicated, so a single suite-level scalar
  cannot normalize per-query walls. Each query is normalized by the
  mean of the quick calibration samples bracketing ITS block
  (`queries_normalized`). SCHEME FROZEN since r11 (bench_schema 2
  only ADDS the stall guard; the estimator and CALIBRATION_REF are
  untouched): `queries_normalized` is cross-round comparable r11+
  ONLY — the per-block quick_cal is a min-of-2 that sits
  systematically below the median-of-5 CALIBRATION_REF anchor, so
  comparing it against BENCH_r<=10's same-named field manufactures
  phantom regressions. The old single-scalar form continues as
  `queries_normalized_global` (diag side file), comparable r4+.
- a PER-QUERY NOISE BOUND is emitted (`noise_bound_rel`): local
  calibration drift across the block plus the gap between the two
  fastest runs. The mechanical adjudication rule for a future round:
  query X regressed beyond noise iff
    norm_new > norm_old * (1 + bound_old + bound_new).
  `suite_noise_bound_rel` is the wall-weighted average.
- STALL GUARD (r12 item 3 — BENCH_r11 cross-run agreement showed 2/13
  queries violating budgets ~2.9x on UNCHANGED code from sustained
  block-level rig contention the drift/min-gap terms cannot see):
  after the suite, every query gets ONE isolated warm re-time; a block
  is flagged if its local calibration deviates >2x from the suite
  median OR its recorded min exceeds 3x the isolated re-time. Flagged
  blocks re-run once and the attempt with the LOWER normalized wall is
  kept (less rig contention); `stall_reruns` in the headline names
  what happened so adjudication sees the allowance was used.
- OUTPUT LAYOUT (r12 — BENCH_r11's enlarged line outgrew the driver's
  2,000-char tail capture and lost the raw walls, `parsed: null`):
  the FINAL stdout line is the compact headline JSON (kept well under
  2,000 bytes); medians, calibration blocks, per-block local cals, the
  global-normalized continuity dicts, and re-time walls go to stderr
  and to the `bench_diag.json` side file.
- the ANN flagship is benched as SERVING, not training: the one-off
  `embedding_ivfadc_build` wall is separated from the per-batch
  `embedding_ivfadc_probe` wall measured against the persisted index.
- r13 (r12 verdict items 2/3): the headline carries `cpus` (the
  honored $SPARK_GRAFT_CPUS) and `default_parallelism` (read live
  from the session) so the driver's scaling probe can verify the core
  count; `value_normalized` is the BASE-entry sum again (the r12
  artifact accidentally included the "+x" entries — the exec-wall sum
  now rides separately as `value_normalized_exec`); adjudication of
  the 7 count-collapsed queries runs on their "+x" walls via
  tools/bench_agreement.py with the diag side files (20 entries).
  NOTE on the fused doc queries' COUNT entries from r13 on: the fused
  scan's integer families now run in one mapInArrow pass (guide §4.2),
  which is opaque to column pruning — the count action therefore
  executes the real computation instead of the collapsed
  ReadSchema-struct<> plan the r4-r12 count walls measured. Their
  count walls rise toward the honest "+x" walls (which themselves
  dropped ~2x) — compare those queries on "+x", exactly as r12's
  verdict item 3 prescribes.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from japanstockdatapipeline_spark.plans import all_members, all_queries
from japanstockdatapipeline_spark.session import get_spark

from tools.calibration import (  # noqa: E402
    CALIBRATION_N,
    CALIBRATION_REF,
    CALIBRATION_RUNS,
    calibrate as _calibrate,
)

WARMUP = "pricing_summary"  # pinned: JVM/JIT + parquet-footer warm
N_RUNS = 5

# r12 OPTIMIZATION-round measurement fix (guide §1.4): the timed
# `.count()` action lets the optimizer prune every column the count
# does not need — for these queries the count-plan collapses to a
# (near-)metadata row count (captured in plans/r12/*_count_before.txt:
# ReadSchema struct<> or keys-only), so their historical walls measure
# plan construction + a trivial count, NOT the query's computation.
# Each gains a SECOND bench entry, suffixed "+x" ("executed"), timed
# with the noop sink (df.write.format("noop") — computes every column
# of every row, guide §1.4). The ORIGINAL count-action entries are
# kept unchanged for r11<->r12 comparability; the +x entries are the
# honest execution walls going forward. Their per-query noise bounds
# live in bench_diag.json (committed) — the headline line must stay
# under the driver's 2,000-char tail capture.
NOOP_EXEC = (
    "pricing_summary",
    "doc_text_stats",
    "doc_features_fused",
    "corpus_prep_fused",
    "rolling_event_stats",
    "purchase_asof_click",
    "revenue_by_nation",
)
NOOP_SUFFIX = "+x"
BUILD_RUNS = 2  # the one-off index build: 2 fresh runs, min reported
QUICK_CAL_RUNS = 2  # interleaved sample: min of 2 (one is too noisy)
STALL_CAL_FACTOR = 2.0  # local_cal >2x off the suite median -> flag
STALL_RETIME_FACTOR = 3.0  # recorded min >3x the isolated re-time -> flag


def quick_cal(spark) -> float:
    """One interleaved calibration sample (min of QUICK_CAL_RUNS
    range-sums, ~0.3 s) — cheap enough to bracket every query block."""
    walls = []
    for _ in range(QUICK_CAL_RUNS):
        t0 = time.perf_counter()
        spark.range(CALIBRATION_N).selectExpr("sum(id) AS s").collect()
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 4)


class BlockTimer:
    """Runs each query block bracketed by interleaved calibration
    samples; accumulates min/median walls, per-block local
    calibrations, per-query noise bounds, and (r12) per-block re-run
    and isolated re-time thunks for the stall guard."""

    def __init__(self, spark):
        self.spark = spark
        self.timings: dict[str, float] = {}
        self.medians: dict[str, float] = {}
        self.local_cal: dict[str, float] = {}
        self.noise: dict[str, float] = {}
        self.cals: list[float] = [quick_cal(spark)]
        self.rerun: dict[str, object] = {}  # name -> re-run-the-block thunk
        self.retime: dict[str, object] = {}  # name -> one isolated run, -> wall
        self.retime_walls: dict[str, float] = {}
        self.stall_reruns: dict[str, str] = {}  # name -> "first" | "rerun"

    def record(self, name: str, walls: list[float], rows: int | str) -> None:
        self.cals.append(quick_cal(self.spark))
        cal_before, cal_after = self.cals[-2], self.cals[-1]
        local = (cal_before + cal_after) / 2
        self.timings[name] = round(min(walls), 3)
        self.medians[name] = round(statistics.median(walls), 3)
        self.local_cal[name] = round(local, 4)
        # noise bound: calibration drift across the block + the gap
        # between the two fastest runs (the min estimator's jitter)
        cal_drift = abs(cal_before - cal_after) / local
        s = sorted(walls)
        run_gap = (s[1] - s[0]) / s[0] if len(s) > 1 and s[0] > 0 else 0.0
        self.noise[name] = round(cal_drift + run_gap, 4)
        print(
            f"# {name}: min {self.timings[name]:.3f}s / med"
            f" {self.medians[name]:.3f}s ({rows} rows), local_cal"
            f" {local:.3f}s, noise ±{100 * self.noise[name]:.1f}%",
            file=sys.stderr,
        )

    def run_query(self, name: str, fn, sf_dir: str) -> None:
        def block() -> None:
            walls, n = [], 0
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                n = fn(self.spark, sf_dir).count()  # materialize, no transfer
                walls.append(time.perf_counter() - t0)
            self.record(name, walls, n)

        def one() -> float:
            t0 = time.perf_counter()
            fn(self.spark, sf_dir).count()
            return time.perf_counter() - t0

        self.rerun[name] = block
        self.retime[name] = one
        block()
        if name in NOOP_EXEC:
            xname = name + NOOP_SUFFIX

            def noop_one() -> float:
                t0 = time.perf_counter()
                fn(self.spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()  # every column of every row (guide §1.4)
                return time.perf_counter() - t0

            def noop_block() -> None:
                walls = [noop_one() for _ in range(N_RUNS)]
                self.record(xname, walls, "noop")

            self.rerun[xname] = noop_block
            self.retime[xname] = noop_one
            noop_block()

    def _normalized(self, name: str) -> float:
        return self.timings[name] * CALIBRATION_REF / self.local_cal[name]

    def guard_stalls(self) -> None:
        """r12 stall guard: one isolated warm re-time per query, then
        re-run (once) any block whose local calibration sits >2x off
        the suite median OR whose recorded min is >3x its re-time —
        both signatures of sustained block-level rig contention that
        the intra-block noise terms cannot see. Keeps the attempt with
        the lower NORMALIZED wall (the less-contended measurement)."""
        for name, one in self.retime.items():
            self.retime_walls[name] = round(one(), 3)
        med = statistics.median(self.local_cal.values())
        for name in list(self.timings):
            lc = self.local_cal[name]
            rt = self.retime_walls.get(name)
            cal_off = lc > STALL_CAL_FACTOR * med or lc < med / STALL_CAL_FACTOR
            stalled = (
                rt is not None
                and rt > 0
                and self.timings[name] > STALL_RETIME_FACTOR * rt
            )
            if not (cal_off or stalled):
                continue
            print(
                f"# stall guard: {name} flagged"
                f" (local_cal {lc:.3f} vs suite median {med:.3f},"
                f" min {self.timings[name]:.3f}s vs re-time {rt}s)"
                f" — re-running block once",
                file=sys.stderr,
            )
            old = (
                self.timings[name],
                self.medians[name],
                self.local_cal[name],
                self.noise[name],
            )
            old_norm = self._normalized(name)
            self.rerun[name]()
            if self._normalized(name) <= old_norm:
                self.stall_reruns[name] = "rerun"
            else:
                (
                    self.timings[name],
                    self.medians[name],
                    self.local_cal[name],
                    self.noise[name],
                ) = old
                self.stall_reruns[name] = "first"


def bench_ann_split(bt: BlockTimer, sf_dir: str):
    """Build/probe split for the ANN flagship (the shipped IVFADC
    default dial — operators/kmeans.ivf_pq_rerank_topk kwargs): the
    index is built fresh BUILD_RUNS times (unpersisting between runs
    so the shared-plan cache cannot fake a warm build), then the LAST
    build stays persisted and the probe runs N_RUNS against it — the
    per-query-batch serving wall an ANN rollout actually pays.
    Returns a cleanup thunk; the caller runs it AFTER the stall guard
    (the probe's re-run/re-time thunks need the persisted index).

    The dial is PINNED at (k_coarse=8, m=8, k_cells=16) — the
    sf0.1-density operating point, kept fixed for r11<->r12 wall
    comparability. The production DEFAULT dial tracks the 2M-measured
    code budget instead (r12 sweep; STRESS ann2m rows carry those
    walls), so this block measures the serving MACHINERY round over
    round, not the default's changing workload.

    The build's Lloyd assignments run as numpy over Arrow batches
    (guide §4.2), the module's only assignment kernel."""
    from japanstockdatapipeline_spark.operators.kmeans import (
        ivf_pq_build,
        ivf_pq_probe,
    )
    from japanstockdatapipeline_spark.plans.similarity import _queries_df
    from japanstockdatapipeline_spark.sources.tables import load_table

    spark = bt.spark
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _queries_df(emb)
    state = {"index": None, "cents": None, "handles": []}

    def fresh_build() -> float:
        for h in state["handles"]:
            h.unpersist()
        if state["index"] is not None:
            state["index"].unpersist()
            state["cents"].unpersist()
        state["handles"] = []
        t0 = time.perf_counter()
        index, cents = ivf_pq_build(
            emb, k_coarse=8, m=8, k_cells=16, residual=True,
            persisted_out=state["handles"],
        )
        state["index"] = index.persist()
        state["cents"] = cents.persist()
        state["index"].count()
        state["cents"].count()
        return time.perf_counter() - t0

    def build_block() -> None:
        walls = [fresh_build() for _ in range(BUILD_RUNS)]
        bt.record("embedding_ivfadc_build", walls, f"{BUILD_RUNS} fresh builds")

    def probe_once() -> float:
        t0 = time.perf_counter()
        ivf_pq_probe(
            state["index"], state["cents"], queries, emb,
            k=5, candidates=80, n_probe=2,
        ).count()
        return time.perf_counter() - t0

    def probe_block() -> None:
        walls, n = [], 0
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            n = ivf_pq_probe(
                state["index"], state["cents"], queries, emb,
                k=5, candidates=80, n_probe=2,
            ).count()
            walls.append(time.perf_counter() - t0)
        bt.record("embedding_ivfadc_probe", walls, n)

    bt.rerun["embedding_ivfadc_build"] = build_block
    bt.retime["embedding_ivfadc_build"] = fresh_build
    bt.rerun["embedding_ivfadc_probe"] = probe_block
    bt.retime["embedding_ivfadc_probe"] = probe_once
    build_block()
    probe_block()

    def cleanup() -> None:
        for h in state["handles"]:
            h.unpersist()
        if state["index"] is not None:
            state["index"].unpersist()
            state["cents"].unpersist()

    return cleanup


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("jsdp-bench")

    bench_set = {
        name: q
        for name, q in {**all_queries(), **all_members()}.items()
        if q.bench
    }
    assert WARMUP in bench_set, f"pinned warm-up {WARMUP!r} not in bench set"
    bench_set[WARMUP].fn(spark, sf_dir).count()

    calibration_pre = _calibrate(spark)
    print(
        f"# calibration(pre): {calibration_pre:.3f}s (range({CALIBRATION_N})"
        f".sum, median of {CALIBRATION_RUNS})",
        file=sys.stderr,
    )

    bt = BlockTimer(spark)
    for name, q in bench_set.items():
        bt.run_query(name, q.fn, sf_dir)

    ann_cleanup = bench_ann_split(bt, sf_dir)
    bt.guard_stalls()
    ann_cleanup()

    # suite-level pre/post pair retained for continuity with
    # BENCH_r<=10 (the old single-scalar normalization, diag-only)
    calibration_post = _calibrate(spark)
    calibration = round((calibration_pre + calibration_post) / 2, 3)
    print(
        f"# calibration(post): {calibration_post:.3f}s -> mean {calibration:.3f}s",
        file=sys.stderr,
    )

    timings = bt.timings
    normalized = {
        k: round(v * CALIBRATION_REF / bt.local_cal[k], 3)
        for k, v in timings.items()
    }
    scale = CALIBRATION_REF / calibration if calibration else 1.0
    normalized_global = {k: round(v * scale, 3) for k, v in timings.items()}
    # `value` / suite noise stay the sum over the ORIGINAL count-action
    # entries so the headline total remains comparable r4+; the added
    # "+x" noop-execution entries ride along in `queries` only (their
    # normalized/noise/median forms live in bench_diag.json — headline
    # must stay under the driver's 2,000-char tail capture)
    base = {k: v for k, v in timings.items() if not k.endswith(NOOP_SUFFIX)}
    total = round(sum(base.values()), 3)
    total_w = sum(base.values()) or 1.0
    suite_noise = round(
        sum(bt.noise[k] * base[k] for k in base) / total_w, 4
    )

    diag = {
        # the "+x" exec-wall normalized sum (headline carries only the
        # base-entry value_normalized for r4+ comparability)
        "value_normalized_exec": round(
            sum(
                round(v * CALIBRATION_REF / bt.local_cal[k], 3)
                for k, v in timings.items()
                if k.endswith(NOOP_SUFFIX)
            ),
            3,
        ),
        "queries_median": bt.medians,
        "queries_local_calibration": bt.local_cal,
        "queries_retime": bt.retime_walls,
        "queries_normalized": normalized,  # incl. the "+x" entries
        "noise_bound_rel": bt.noise,  # incl. the "+x" entries
        "queries_normalized_global": normalized_global,
        "value_normalized_global": round(sum(normalized_global.values()), 3),
        "calibration_pre": calibration_pre,
        "calibration_post": calibration_post,
        "calibration_blocks": bt.cals,
        "stall_reruns": bt.stall_reruns,
        "sf": sf,
    }
    diag_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_diag.json"
    )
    with open(diag_path, "w") as f:
        json.dump(diag, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"# diag: {json.dumps(diag)}", file=sys.stderr)

    # the COMPACT headline — the FINAL stdout line, kept well under the
    # driver's 2,000-char tail capture (r12 item 3).
    # r13 (verdict items 2): `value_normalized` sums BASE entries only
    # (the r12 artifact accidentally summed the additive "+x" noop
    # entries into it — a phantom 63% suite regression to any diff;
    # the exec-wall sum now rides separately as value_normalized_exec),
    # and the headline carries `cpus` (the honored $SPARK_GRAFT_CPUS)
    # plus the session's live defaultParallelism so the driver's
    # scaling probe can verify the core count instead of guessing from
    # overhead-bound sf0.1 ratios.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_normalized": {k: normalized[k] for k in base},
                "noise_bound_rel": {k: bt.noise[k] for k in base},
                "suite_noise_bound_rel": suite_noise,
                "value_normalized": round(
                    sum(normalized[k] for k in base), 3
                ),
                "calibration": calibration,
                "calibration_ref": CALIBRATION_REF,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "stall_reruns": bt.stall_reruns,
                "bench_schema": 2,
                # kept terse: the full normalization note lives in the
                # module docstring + bench_diag.json; the headline must
                # stay under the driver's 2,000-char tail capture
                "normalization": (
                    "per-block quick_cal vs REF 0.152; r11+ comparable;"
                    " global r4+ form in bench_diag.json"
                ),
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
