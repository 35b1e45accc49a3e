"""Metric definitions and their computation from a finished run.

`END_TO_END` is what an untraced run reports; `per_layer()` lists what
a traced run reports. BENCHMARK.json mirrors both lists (the
benchmark's tests check that it does).
"""

from __future__ import annotations

import statistics

from .workloads import QUERIES, SCAN_TABLES, STEPS

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_cpu_ms.p50": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

# spans are taken from the measured window when it has any, else from
# the traced sweep after it, else from set-up
PHASES = ("window", "sweep", "setup")


def per_layer() -> dict[str, tuple[str, str, tuple]]:
    """name -> (unit, better, source); a source is ("sample", name) or
    ("span", span name, field) with field "dur" or a count summed over
    the span's descendants."""
    m: dict[str, tuple[str, str, tuple]] = {
        "session.start_s": ("s", "lower", ("sample", "session.start_s")),
    }
    for t in SCAN_TABLES:
        m[f"sources.scan_s.{t}"] = ("s", "lower", ("span", f"sources.scan.{t}", "dur"))
    for t in SCAN_TABLES:
        m[f"sources.scan_tasks.{t}"] = ("count", "higher", ("span", f"sources.scan.{t}", "tasks"))
    for q in QUERIES:
        m[f"plans.{q}.build_s"] = ("s", "lower", ("span", f"plans.{q}.build", "dur"))
        m[f"plans.{q}.exec_s"] = ("s", "lower", ("span", f"plans.{q}.exec", "dur"))
        m[f"plans.{q}.build_jobs"] = ("count", "lower", ("span", f"plans.{q}.build", "jobs"))
        m[f"plans.{q}.exec_tasks"] = ("count", "higher", ("span", f"plans.{q}.exec", "tasks"))
        m[f"plans.{q}.py4j_calls"] = ("count", "lower", ("span", f"plans.{q}", "py4j_calls"))
    m.update({
        "operators.ivf_pq_build.s": ("s", "lower", ("span", "operators.ivf_pq_build", "dur")),
        "operators.ivf_pq_build.jobs": ("count", "lower", ("span", "operators.ivf_pq_build", "jobs")),
        "operators.ivf_pq_probe.build_s": ("s", "lower", ("span", "operators.ivf_pq_probe.build", "dur")),
        "operators.ivf_pq_probe.exec_s": ("s", "lower", ("span", "operators.ivf_pq_probe.exec", "dur")),
        "operators.ivf_pq_probe.py4j_calls": ("count", "lower", ("span", "operators.ivf_pq_probe", "py4j_calls")),
        "operators.technical_snapshot.exec_s": ("s", "lower", ("span", "operators.technical_snapshot.exec", "dur")),
    })
    for s in STEPS:
        m[f"pipeline.{s}_s"] = ("s", "lower", ("sample", f"pipeline.{s}_s"))
    for s in STEPS:
        m[f"pipeline.rows.{s}"] = ("count", "higher", ("sample", f"pipeline.rows.{s}"))
    m.update({
        "pipeline.read_gold.build_s": ("s", "lower", ("span", "pipeline.read_gold.build", "dur")),
        "pipeline.read_gold.jobs": ("count", "lower", ("span", "pipeline.read_gold.build", "jobs")),
        "pipeline.read_gold.exec_s": ("s", "lower", ("span", "pipeline.read_gold.exec", "dur")),
        "incremental.publish_version_s": ("s", "lower", ("span", "incremental.publish_version", "dur")),
        "incremental.write_partition_overwrite_s": (
            "s", "lower", ("span", "incremental.write_partition_overwrite", "dur")),
        "incremental.read_published_s": ("s", "lower", ("span", "incremental.read_published", "dur")),
        "incremental.bytes_written_per_refresh": (
            "bytes", "lower", ("sample", "incremental.bytes_written_per_refresh")),
        "incremental.bytes_per_input_byte": (
            "ratio", "lower", ("sample", "incremental.bytes_per_input_byte")),
        "incremental.versions_retained": ("count", "lower", ("sample", "incremental.versions_retained")),
        "api.screen.build_s": ("s", "lower", ("span", "api.screen.build", "dur")),
        "api.screen.exec_s": ("s", "lower", ("span", "api.screen.exec", "dur")),
        "api.screen.exec_tasks": ("count", "lower", ("span", "api.screen.exec", "tasks")),
        "spark.jobs": ("count", "lower", ("span", "op", "jobs")),
        "spark.tasks": ("count", "lower", ("span", "op", "tasks")),
        "spark.failed_tasks": ("count", "lower", ("span", "op", "failed_tasks")),
        "trace.overhead_pct": ("%", "lower", ("sample", "trace.overhead_pct")),
        "trace.bookkeeping_s": ("s", "lower", ("sample", "trace.bookkeeping_s")),
    })
    return m


def _by_phase(items):
    """The values of the first phase in PHASES that has any."""
    for phase in PHASES:
        vals = [v for p, v in items if p == phase]
        if vals:
            return vals
    return []


def layer_values(run) -> dict[str, float]:
    """Median of every per-layer metric over the run's spans and samples."""
    out = {}
    for name, (_, _, src) in per_layer().items():
        if src[0] == "sample":
            vals = _by_phase(run.samples.get(src[1], ()))
        else:
            _, span_name, field = src
            items = [(sp["phase"], sp["end"] - sp["start"] if field == "dur"
                      else run.tr.inclusive(sp, field))
                     for sp in run.tr.named(span_name)]
            vals = _by_phase(items)
        if not vals:
            raise RuntimeError(f"per-layer metric {name} was not measured")
        out[name] = statistics.median(vals)
    return out


def end_to_end(setup_s: float, cpus: list[float], peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_cpu_ms.p50": 1000.0 * statistics.median(cpus),
        "peak_rss_mb": peak_rss_mb,
    }
