"""Benchmark command: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload serving_reads --seed 1 --seconds 12 --trace 0

Writes seeded input tables under `.perfbench/` in the checkout, starts
one Spark session on local[<cores>] through the package's session
factory, prepares the workload, runs its operations in a closed loop
with one caller for `--seconds`, checks the outputs, and prints a
summary followed by one JSON line: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics, or with `--trace 1` the
per-layer metrics). Exits non-zero without a JSON line when the run
cannot be set up.

`--jit c1` (the default) runs the driver JVM with the C1 compiler only,
which settles within the warm-up; `--jit tiered` runs the JVM's default
tiered C1+C2 compilation, the program's own configuration, for
cross-checking a change whose effect may depend on the JIT.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("nightly_refresh", "analytics_batch", "serving_reads")
SCALE = 0.01  # TPC-H scale factor of the generated tables
LOAD_REPS = 3  # schema resolutions per run; setup_s counts their median
DRIVER_MEM = "1g"
# a traced run keeps operating until the tracing overhead rests on at
# least this many traced/untraced pairs of the same unit of work (more
# would take a traced nightly_refresh run past 180 s on a slow host)
OVERHEAD_PAIRS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=SCALE)
    p.add_argument("--jit", choices=("c1", "tiered"), default="c1")
    return p.parse_args(argv)


def configure_env(run_dir: str, jit: str) -> None:
    """Keep every file Spark, the JVM and Python write inside run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if jit == "c1":
        # every run reaches its steady state within the warm-up (with
        # C2, walls keep falling for ~50 s, longer than a run can wait)
        java_opts += " -XX:TieredStopAtLevel=1"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=java_opts,  # the JVM spark-submit runs first
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(java_opts)}"
            f" --conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"
            " pyspark-shell"
        ),
    )
    tempfile.tempdir = None


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of a process and all its descendants
    (the JVM and its Python workers descend from this process), counting
    children they have already reaped."""
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # exited while being read
            continue
    return total / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — never leave the JVM behind
        proc.kill()
        proc.wait(timeout=60)


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def window(run, wl, specs, seconds: float, ops: list, failed_ops: set) -> None:
    """Closed loop, one caller: operations back to back until `seconds`
    have passed and the workload's current block of operations is
    complete (and, in a traced run, until the tracing overhead has
    OVERHEAD_PAIRS pairs). Output checks run untimed and untraced after
    each operation."""
    t0 = time.perf_counter()
    while True:
        spec = next(specs)
        req = len(ops)
        run.tr.request = req
        n_fail = len(run.failures)
        result, ok = None, True
        kind = wl.kind_of(spec)
        cpu = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        try:
            with run.unit(spec[0], wl.unit == "op"), run.span("op", kind=kind):
                result = wl.do(run, spec)
        except Exception as e:  # noqa: BLE001 — a raising operation is a failed one
            traceback.print_exc()
            run.fail(f"operation {req} {kind}: {e!r}"[:500])
            ok = False
        wall = time.perf_counter() - t
        ops.append((kind, wall, tree_cpu_s(os.getpid()) - cpu))
        if ok:
            traced, run.tr.enabled = run.tr.enabled, False
            for err in wl.check_op(run, spec, result):
                run.fail(f"operation {req}: {err}")
            run.tr.enabled = traced
        if len(run.failures) > n_fail:
            failed_ops.add(req)
        if (time.perf_counter() - t0 >= seconds and len(ops) % wl.block == 0
                and (not run.alternate or overhead(run.units)[0] >= OVERHEAD_PAIRS)):
            return


def overhead(units) -> tuple[int, float]:
    """(pairs, percent) tracing overhead from units of work run both
    traced and untraced: per key the median wall of each side, summed
    over the keys that have both sides. `pairs` counts min(traced,
    untraced) occurrences over those keys."""
    sides: dict = {}
    for key, traced, wall in units:
        sides.setdefault(key, ([], []))[traced].append(wall)
    both = [(u, t) for u, t in sides.values() if u and t]
    if not both:
        return 0, float("nan")
    pairs = sum(min(len(u), len(t)) for u, t in both)
    t_sum = sum(statistics.median(t) for _, t in both)
    u_sum = sum(statistics.median(u) for u, _ in both)
    return pairs, 100.0 * (t_sum / u_sum - 1.0)


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir, args.jit)
    sys.path.insert(0, ROOT)
    try:
        return measure(args, base, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, base: str, run_dir: str) -> int:
    from japanstockdatapipeline_spark.session import get_spark

    from perfbench import inputs
    from perfbench import metrics as M
    from perfbench import workloads as W
    from perfbench.spans import Tracer, self_times, tail

    wl = W.WORKLOADS[args.workload]
    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    session_s = time.perf_counter() - t
    log("session started")
    try:
        # the inputs are the benchmark's own work, so their generation
        # and copies are left out of setup_s
        t = time.perf_counter()
        src = os.path.join(run_dir, "data")
        rows = inputs.write_inputs(src, args.seed, args.scale)
        for i in range(LOAD_REPS):
            shutil.copytree(src, f"{src}{i}")
        own_s = time.perf_counter() - t
        log("inputs written")
        # resolving every table's schema (the package's schema cache,
        # keyed by path) is repeated on fresh copies; the last copy is
        # the one measured
        load_s = []
        for i in range(LOAD_REPS):
            t = time.perf_counter()
            data_dir = f"{src}{i}"
            W.load_all(spark, data_dir)
            load_s.append(time.perf_counter() - t)

        tracer = Tracer(spark, enabled=bool(args.trace))
        run = W.Run(spark, tracer, data_dir, run_dir, args.seed, rows)
        run.sample("session.start_s", session_s)
        run.state["input_bytes"] = sum(
            os.path.getsize(os.path.join(data_dir, f"{name}.parquet"))
            for name in ("events", "orders", "customer"))
        if args.trace:
            W.install_publish_spans(run)
        wl.prepare(run)
        log("workload prepared")
        setup_failed = bool(run.failures)
        setup_s = (time.perf_counter() - T_START - own_s
                   - sum(load_s) + statistics.median(load_s))

        run.phase = "window"
        ops: list = []
        failed_ops: set = set()
        # a traced run alternates tracing between occurrences of the
        # same unit of work, so both sides share the host's drift
        run.alternate = bool(args.trace)
        window(run, wl, wl.specs(run), args.seconds, ops, failed_ops)
        run.alternate = False
        if args.trace:
            run.phase = "sweep"
            W.sweep(run)

        log("window done")
        # before the DuckDB checks, which are the benchmark's own work
        rss = peak_rss_mb((os.getpid(), spark.sparkContext._gateway.proc.pid))
        run.phase = "check"
        tracer.enabled = False
        n_checks, failed_checks = wl.finish(run)
        failed_ops |= run.state.get("failed_ops", set())
        log("checks done")
    finally:
        stop_spark(spark)
    log("spark stopped")

    walls = [w for _, w, _ in ops]
    cpus = [c for _, _, c in ops]
    log("operations (kind wall s): " + " ".join(f"{k} {w:.3f}" for k, w, _ in ops))
    attempted = len(ops) + n_checks + 1
    failed = len(failed_ops) + failed_checks + int(setup_failed)
    for msg in run.failures:
        print(f"# FAILED {msg}")
    summary = {
        "workload": args.workload, "seed": args.seed, "ops": len(ops),
        "op_sequence_sha256": W.spec_hash(wl.specs(run)),
        "failed_ratio": failed / attempted,
        "op_ms.p50": 1000.0 * statistics.median(walls),
        "tail_percentile": round(tail(walls)[0], 1),
        "op_ms.tail": 1000.0 * tail(walls)[1],
        "ops_per_s": len(walls) / sum(walls),
    }
    for kind in wl.kinds:
        kw = [w for k, w, _ in ops if k == kind]
        if kw:
            summary[f"{kind}_ms.p50"] = 1000.0 * statistics.median(kw)
    for fam in W.FAMILIES:
        if run.samples.get(f"analytics.{fam}_s"):
            summary[f"analytics.{fam}_s"] = statistics.median(
                v for p, v in run.samples[f"analytics.{fam}_s"] if p == "window")
    if args.trace:
        summary["overhead_pairs"], summary["overhead_pct"] = overhead(run.units)
    print("# " + json.dumps(summary))

    if args.trace:
        run.phase = "window"
        run.sample("trace.overhead_pct", summary["overhead_pct"])
        run.sample("trace.bookkeeping_s", tracer.bookkeeping_s)
        metrics = M.layer_values(run)
        units = {k: v[0] for k, v in M.per_layer().items()}
        selfs = self_times(tracer.spans)
        with open(os.path.join(base, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"seed": args.seed, "spans": [
                {**sp, "self": selfs[sp["id"]]} for sp in tracer.spans]}, f)
    else:
        metrics = M.end_to_end(setup_s, cpus, rss)
        units = {k: v[0] for k, v in M.END_TO_END.items()}
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
