"""The benchmark's three workloads over the package's public functions.

Each workload has a set-up (`prepare`), an endless seeded stream of
operation specs (`specs`), one operation (`do`), untimed checks of
each operation's output (`check_op`) and end-of-run checks (`finish`).
All spans are opened here, around calls into the package's layers;
the package itself is not instrumented.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import tempfile
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import functions as F

from japanstockdatapipeline_spark import api, pipeline
from japanstockdatapipeline_spark.operators import kmeans
from japanstockdatapipeline_spark.operators.snapshot import technical_snapshot
from japanstockdatapipeline_spark.plans import all_members, all_queries
from japanstockdatapipeline_spark.sources import TABLE_NAMES, load_table
from japanstockdatapipeline_spark.streaming.incremental import published_versions
from tools.verify_local import duck_con, normalize

from .inputs import EVENTS_PER_USER, SEGMENTS

FAMILIES = {
    "doc": ("doc_text_stats", "doc_features_fused", "corpus_prep_fused", "doc_ngram_jaccard_dups"),
    "relational": ("pricing_summary", "revenue_by_nation"),
    "events": ("rolling_event_stats", "purchase_asof_click", "event_indicator_fused_jvm",
               "user_technical_snapshot"),
    "vector": ("embedding_knn_topk", "ivf_pq_build"),
}
FAMILY_OF = {name: fam for fam, names in FAMILIES.items() for name in names}
QUERIES = tuple(sorted(n for n in FAMILY_OF if n != "ivf_pq_build"))
# the index dial bench.py pins for its build/probe split
IVF_DIAL = dict(k_coarse=8, m=8, k_cells=16, residual=True,
                coarse_assign="blas", pq_assign="blas")
PROBE_K = 5
PROBE_ARGS = dict(k=PROBE_K, candidates=80, n_probe=2)
STEPS = ("silver_events", "gold_snapshot", "gold_market_indicators", "gold_stock_screen")
SCAN_TABLES = ("documents", "events", "lineitem", "embeddings")
# read mix: each block of five requests holds two gold reads, two
# screens and one ANN probe, in seeded order
READ_MIX = {"gold": 2, "screen": 2, "probe": 1}
# refresh mix: each block of two pipeline runs holds one forward run and
# one backfill, in seeded order, so every window measures both paths
# with equal weight (see DESIGN.md); the backfill depth of 1-5 days
# follows the catch-up planner
REFRESH_MIX = {"forward": 1, "backfill": 1}
BACKFILL_DAYS = (1, 5)
SCREEN_ORDER = ("latest_price", "c_acctbal", "latest_orderdate")
EVENT_DAY0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days  # inputs.py events start


def noop(df) -> None:
    """Execute every column of every row without returning anything."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def oracle_con(data_dir: str):
    """DuckDB over the run's parquet files, bounded so the oracle checks
    stay small next to the Spark JVM."""
    con = duck_con(data_dir)
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    return con


def digest(rows, cols) -> str:
    return hashlib.sha256("\n".join(normalize(rows, cols)).encode()).hexdigest()


class Run:
    """State of one benchmark run: session, tracer, inputs, samples."""

    def __init__(self, spark, tracer, data_dir: str, work_dir: str, seed: int, rows: dict):
        self.spark = spark
        self.tr = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.rows = rows
        self.samples: dict[str, list[tuple[str, float]]] = defaultdict(list)
        self.failures: list[str] = []
        self.state: dict = {}
        self.phase = "setup"
        self.traced_run = tracer.enabled
        # traced runs: tracing alternates between the occurrences of
        # each unit of work, whose walls are kept as (key, traced, wall)
        self.alternate = False
        self.units: list[tuple[str, bool, float]] = []
        self._seen: dict[str, int] = {}

    def span(self, name: str, **attrs):
        return self.tr.span(name, phase=self.phase, **attrs)

    @contextmanager
    def unit(self, key: str, active: bool = True):
        """One unit of work for the tracing overhead. While `alternate`
        is set, its n-th occurrence is traced when n plus the key's
        first-seen index plus the seed is odd, so each key alternates
        and half the keys start traced."""
        if not (self.alternate and active):
            yield
            return
        idx = list(self._seen).index(key) if key in self._seen else len(self._seen)
        n = self._seen.get(key, 0)
        self._seen[key] = n + 1
        traced = (n + idx + self.seed) % 2 == 1
        prev, self.tr.enabled = self.tr.enabled, traced
        t = time.perf_counter()
        try:
            yield
        finally:
            self.units.append((key, traced, time.perf_counter() - t))
            self.tr.enabled = prev

    def sample(self, name: str, value: float) -> None:
        self.samples[name].append((self.phase, value))

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


# ---------------------------------------------------------------- layers


class Index:
    def __init__(self, run: Run):
        emb = load_table(run.spark, run.data_dir, "embeddings")
        self.handles: list = []
        with run.span("operators.ivf_pq_build"):
            index, cents = kmeans.ivf_pq_build(emb, persisted_out=self.handles, **IVF_DIAL)
            self.index, self.cents = index.persist(), cents.persist()
            n_index, n_cents = self.index.count(), self.cents.count()
        # a coarse cell that ends up empty has no centroid row
        if n_index != run.rows["embeddings"] or not 1 <= n_cents <= IVF_DIAL["k_coarse"]:
            run.fail(f"ivf_pq_build: {n_index} index rows, {n_cents} centroids")

    def drop(self) -> None:
        for df in (*self.handles, self.index, self.cents):
            df.unpersist()


def run_entry(run: Run, name: str, sink) -> object:
    if name == "ivf_pq_build":
        Index(run).drop()
        return None
    fn = run.state["entries"][name].fn
    with run.span(f"plans.{name}"):
        with run.span(f"plans.{name}.build"):
            df = fn(run.spark, run.data_dir)
        with run.span(f"plans.{name}.exec"):
            return sink(df)


def oracle_digests(data_dir: str, entries: dict) -> dict:
    """name -> (digest, rows) of every bench query's DuckDB oracle."""
    con = oracle_con(data_dir)
    try:
        out = {}
        for name in QUERIES:
            res = con.execute(entries[name].oracle)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (digest(rows, cols), len(rows))
        return out
    finally:
        con.close()


def collect_pass(run: Run, names) -> dict:
    """Run the entries with a collecting sink: name -> (digest, rows).
    The index build has no result rows; `Index` checks its counts."""
    digests = {}
    for name in names:
        def keep(df, name=name):
            rows = [tuple(r) for r in df.collect()]
            digests[name] = (digest(rows, df.columns), len(rows))
        run_entry(run, name, keep)
    return digests


def install_publish_spans(run: Run) -> None:
    """Wrap the publish-layer names `pipeline` imports in spans that also
    count the bytes each write leaves on disk."""
    def wrap(name, fn, written):
        def traced(*args, **kwargs):
            with run.span(f"incremental.{name}"):
                out = fn(*args, **kwargs)
            if run.tr.enabled and written is not None:
                run.state["op_bytes"] = run.state.get("op_bytes", 0) + written(args, out)
            return out
        setattr(pipeline, name, traced)

    wrap("publish_version", pipeline.publish_version,
         lambda a, v: dir_bytes(os.path.join(a[1], f"v={v}")))
    wrap("write_partition_overwrite", pipeline.write_partition_overwrite,
         lambda a, _: dir_bytes(a[1]))
    wrap("read_published", pipeline.read_published, None)


def run_pipeline(run: Run, out_dir: str, run_date: dt.date) -> dict:
    """One `run_daily_pipeline`; step walls and rows come from the run
    manifest it appends to."""
    run.state["op_bytes"] = 0
    with run.span("pipeline.run"):
        counts = pipeline.run_daily_pipeline(run.spark, run.data_dir, out_dir, run_date.isoformat())
    with open(os.path.join(out_dir, "ops", "runs.jsonl")) as f:
        recs = [json.loads(line) for line in f][-2 * len(STEPS):]
    started = {r["run_id"]: r for r in recs if r["status"] == "running"}
    for r in recs:
        if r["status"] == "running":
            continue
        job = started[r["run_id"]]["job"]
        if r["status"] != "success":
            run.fail(f"pipeline {run_date}: step {job} {r['status']}")
        run.sample(f"pipeline.{job}_s", r["ts"] - started[r["run_id"]]["ts"])
        run.sample(f"pipeline.rows.{job}", r.get("rows", 0))
    if run.tr.enabled:
        written = run.state["op_bytes"]
        run.sample("incremental.bytes_written_per_refresh", written)
        run.sample("incremental.bytes_per_input_byte", written / run.state["input_bytes"])
        run.sample("incremental.versions_retained", sum(
            len(published_versions(run.spark, os.path.join(out_dir, "gold", t)))
            for t in pipeline.GOLD_TABLES))
    return counts


# ---------------------------------------------------------------- workloads


class NightlyRefresh:
    """One pipeline run per operation into one persistent out_dir; the
    run_date sequence moves forward with an occasional backfill."""

    name = "nightly_refresh"
    kinds = tuple(REFRESH_MIX)
    block = sum(REFRESH_MIX.values())  # windows end on whole mix blocks
    unit = "op"

    @staticmethod
    def kind_of(spec) -> str:
        return spec[1]

    def prepare(self, run: Run) -> None:
        run.state["out_dir"] = os.path.join(run.work_dir, "refresh_out")
        rng = random.Random(run.seed)
        run.state["newest"] = dt.date(2024, 2, 1) + dt.timedelta(days=rng.randrange(60))
        run.state["counts"] = run_pipeline(run, run.state["out_dir"], run.state["newest"])

    def specs(self, run: Run):
        rng = random.Random(run.seed * 7919 + 1)
        block = [k for k, w in REFRESH_MIX.items() for _ in range(w)]
        while True:
            rng.shuffle(block)
            for kind in block:
                if kind == "backfill":
                    yield ("refresh", "backfill", rng.randint(*BACKFILL_DAYS))
                else:
                    yield ("refresh", "forward", 1)

    def do(self, run: Run, spec) -> dict:
        _, direction, days = spec
        newest = run.state["newest"]
        if direction == "forward":
            newest = run.state["newest"] = newest + dt.timedelta(days=days)
            date = newest
        else:
            date = newest - dt.timedelta(days=days)
        return run_pipeline(run, run.state["out_dir"], date)

    def check_op(self, run: Run, spec, counts) -> list[str]:
        errs = []
        if counts != run.state["counts"]:
            errs.append(f"published counts {counts} != {run.state['counts']}")
        newest = run.state["newest"]
        for table in pipeline.GOLD_TABLES:
            df = pipeline.read_gold(run.spark, run.state["out_dir"], table, as_of=newest)
            served = df.agg(F.max("as_of")).first()[0]
            if served != newest:
                errs.append(f"read_gold({table}) serves {served}, newest forward run {newest}")
        return errs

    def finish(self, run: Run) -> tuple[int, int]:
        return 0, 0


class AnalyticsBatch:
    """One operation is a full pass over the 11 bench queries plus the
    pinned IVF-PQ build, each built and noop-executed, in seeded order."""

    name = "analytics_batch"
    kinds = ("pass",)
    block = 1
    unit = "entry"

    @staticmethod
    def kind_of(spec) -> str:
        return spec[0]

    def prepare(self, run: Run) -> None:
        ensure_entries(run)
        # warm-up pass: collects every result once for the oracle check
        run.state["digests"] = collect_pass(run, FAMILY_OF)

    def specs(self, run: Run):
        rng = random.Random(run.seed * 7919 + 2)
        names = list(FAMILY_OF)
        while True:
            rng.shuffle(names)
            yield ("pass", *names)

    def do(self, run: Run, spec) -> None:
        run.state["last_pass"] = (run.tr.request, spec[1:])
        fam = dict.fromkeys(FAMILIES, 0.0)
        for name in spec[1:]:
            t0 = time.perf_counter()
            with run.unit(name):
                run_entry(run, name, noop)
            fam[FAMILY_OF[name]] += time.perf_counter() - t0
        for f, v in fam.items():
            run.sample(f"analytics.{f}_s", v)

    def check_op(self, run: Run, spec, result) -> list[str]:
        return []

    def finish(self, run: Run) -> tuple[int, int]:
        """The set-up pass is one check per query against its DuckDB
        oracle. The measured passes only noop-sink their results, so in
        an untraced run the last one is rerun in its order with
        collects, on the session as warm as the window left it; a
        mismatch there (or a failed index build) fails that operation.
        A traced run, which also runs the sweep, skips the rerun to
        stay within its time limit."""
        req, names = run.state["last_pass"]
        n_fail = len(run.failures)
        with ThreadPoolExecutor(1) as pool:
            # the DuckDB oracles run beside the untimed rerun
            oracle = pool.submit(oracle_digests, run.data_dir, run.state["entries"])
            rerun = {} if run.traced_run else collect_pass(run, names)
            wants = oracle.result()
        op_failed = len(run.failures) > n_fail  # the index build's own check
        failed = 0
        for name, want in wants.items():
            if run.state["digests"].get(name) != want:
                failed += 1
                run.fail(f"{name}: spark {run.state['digests'].get(name)} != oracle {want}")
            if not run.traced_run and rerun.get(name) != want:
                op_failed = True
                run.fail(f"{name} after operation {req}: spark {rerun.get(name)} != oracle {want}")
        run.state["failed_ops"] = {req} if op_failed else set()
        return len(QUERIES), failed


class ServingReads:
    """Seeded mix of gold-table reads, screener calls and ANN probes
    against one published pipeline run, registered views and a
    persisted IVF-PQ index."""

    name = "serving_reads"
    kinds = tuple(READ_MIX)
    block = sum(READ_MIX.values())  # windows end on whole mix blocks
    unit = "op"

    @staticmethod
    def kind_of(spec) -> str:
        return spec[0]

    def prepare(self, run: Run) -> None:
        ensure_serving(run)
        for spec in self._warm_specs(run):
            self.do(run, spec)
        run.state["screens"] = []

    def _warm_specs(self, run: Run):
        """One request of each type, from a stream of its own."""
        seen = set()
        for spec in self.specs(run, salt=3):
            if spec[0] not in seen:
                seen.add(spec[0])
                yield spec
            if len(seen) == len(READ_MIX):
                return

    def specs(self, run: Run, salt: int = 4):
        rng = random.Random(run.seed * 7919 + salt)
        n_users = max(1, run.rows["events"] // EVENTS_PER_USER)
        block = [k for k, w in READ_MIX.items() for _ in range(w)]
        while True:
            rng.shuffle(block)
            for kind in block:
                if kind == "gold":
                    table = rng.choice(pipeline.GOLD_TABLES)
                    if table == "snapshot":
                        keys = ("key", rng.sample(range(n_users), 3))
                    elif table == "market_indicators":
                        keys = ("day", [EVENT_DAY0 + d for d in rng.sample(range(30), 3)])
                    else:
                        keys = ("c_custkey", rng.sample(range(run.rows["customer"]), 5))
                    yield ("gold", table, *keys)
                elif kind == "screen":
                    yield ("screen", rng.choice((*SEGMENTS, None)),
                           rng.choice((None, 0.0, 2500.0, 5000.0)),
                           rng.choice(SCREEN_ORDER), rng.random() < 0.7,
                           rng.choice((5, 10, 20, 50)))
                else:
                    yield ("probe", rng.sample(range(run.rows["embeddings"]), 4))

    def do(self, run: Run, spec):
        kind = spec[0]
        if kind == "gold":
            return read_gold_op(run, *spec[1:])
        if kind == "screen":
            rows = screen_op(run, *spec[1:])
            run.state.setdefault("screens", []).append((run.tr.request, spec, rows))
            return rows
        return probe_op(run, spec[1])

    def check_op(self, run: Run, spec, rows) -> list[str]:
        kind = spec[0]
        if kind == "gold":
            clock = run.state["clock"]
            if len(rows) > len(spec[3]) or any(r["as_of"] != clock for r in rows):
                return [f"read_gold {spec[1]}: {len(rows)} rows, as_of {[r['as_of'] for r in rows]}"]
        elif kind == "probe":
            got = defaultdict(set)
            n = defaultdict(int)
            for r in rows:
                got[r["q_id"]].add(r["neighbor_id"])
                n[r["q_id"]] += 1
            bad = [q for q in spec[1] if len(got[q]) != PROBE_K or n[q] != PROBE_K]
            if bad:
                return [f"ivf_pq_probe: queries {bad} lack {PROBE_K} distinct neighbours"]
        return []

    def finish(self, run: Run) -> tuple[int, int]:
        """Screener results against DuckDB on the same parquet files; an
        operation that fails here is counted as failed."""
        con = oracle_con(run.data_dir)
        failed_ops = set()
        for req, spec, rows in run.state["screens"]:
            err = check_screen(con, spec, rows)
            if err:
                failed_ops.add(req)
                run.fail(f"request {req}: {err}")
        con.close()
        run.state["failed_ops"] = failed_ops
        return 0, 0


WORKLOADS = {w.name: w for w in (NightlyRefresh(), AnalyticsBatch(), ServingReads())}


# ---------------------------------------------------------------- shared set-up and requests


def ensure_entries(run: Run) -> None:
    if "entries" not in run.state:
        every = {**all_queries(), **all_members()}
        run.state["entries"] = {n: every[n] for n in QUERIES}
        bench = sorted(n for n, q in every.items() if q.bench)
        if bench != list(QUERIES):
            raise RuntimeError(f"bench query set changed: {bench}")


def ensure_serving(run: Run) -> None:
    """Published gold tables, registered views and a persisted index —
    reusing whatever the run already has."""
    if "clock" not in run.state:
        if "out_dir" in run.state:
            run.state["clock"] = run.state["newest"]
        else:
            run.state["out_dir"] = os.path.join(run.work_dir, "serving_out")
            clock = dt.date(2024, 2, 1) + dt.timedelta(days=random.Random(run.seed).randrange(60))
            run_pipeline(run, run.state["out_dir"], clock)
            run.state["clock"] = clock
    if "views" not in run.state:
        api.register_views(run.spark, run.data_dir)
        run.state["views"] = True
    if "index" not in run.state:
        run.state["index"] = Index(run)
        run.state["emb"] = load_table(run.spark, run.data_dir, "embeddings")


def read_gold_op(run: Run, table: str, key: str, values: list):
    with run.span("pipeline.read_gold.build"):
        df = pipeline.read_gold(run.spark, run.state["out_dir"], table, as_of=run.state["clock"])
        df = df.filter(F.col(key).isin(values))
    with run.span("pipeline.read_gold.exec"):
        return df.collect()


def screen_op(run: Run, segment, min_acctbal, order_by, descending, limit):
    with run.span("api.screen.build"):
        df = api.screen(run.spark, segment=segment, min_acctbal=min_acctbal,
                        order_by=order_by, descending=descending, limit=limit)
    with run.span("api.screen.exec"):
        return df.collect()


def probe_op(run: Run, ids: list):
    ix, emb = run.state["index"], run.state["emb"]
    with run.span("operators.ivf_pq_probe"):
        with run.span("operators.ivf_pq_probe.build"):
            q = emb.filter(F.col("vec_id").isin(ids)).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
            df = kmeans.ivf_pq_probe(ix.index, ix.cents, q, emb, **PROBE_ARGS)
        with run.span("operators.ivf_pq_probe.exec"):
            return df.collect()


SCREEN_SQL = """
WITH latest AS (
  SELECT o_custkey, o_totalprice, o_orderdate FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1)
SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
       l.o_totalprice AS latest_price, l.o_orderdate AS latest_orderdate
FROM customer c LEFT JOIN latest l ON c.c_custkey = l.o_custkey
WHERE ($segment IS NULL OR c.c_mktsegment = $segment)
  AND ($min_acctbal IS NULL OR c.c_acctbal >= $min_acctbal)
ORDER BY {col} {direction} NULLS LAST
LIMIT $lim
"""


def check_screen(con, spec, rows) -> str | None:
    """The sort column's values, in order, must match DuckDB's, and so
    must the set of customers ahead of the last value (customers tied
    on the last value may legitimately differ)."""
    _, segment, min_acctbal, order_by, descending, limit = spec
    sql = SCREEN_SQL.format(col=order_by, direction="DESC" if descending else "ASC")
    res = con.execute(sql, {"segment": segment, "min_acctbal": min_acctbal, "lim": limit})
    cols = [d[0] for d in res.description]
    want = [dict(zip(cols, r)) for r in res.fetchall()]
    got = [r.asDict() for r in rows]
    fmt = lambda v: normalize([(v,)], ["v"])[0]  # noqa: E731
    got_vals = [fmt(r[order_by]) for r in got]
    want_vals = [fmt(r[order_by]) for r in want]
    if got_vals != want_vals:
        return f"screen {spec[1:]}: {order_by} values differ from DuckDB"
    if not want:
        return None

    def ahead(rs):
        return sorted(r["c_custkey"] for r in rs if fmt(r[order_by]) != want_vals[-1])

    if ahead(got) != ahead(want):
        return f"screen {spec[1:]}: customers differ from DuckDB"
    return None


# ---------------------------------------------------------------- traced probes


def sweep(run: Run) -> None:
    """Traced run only: call every layer the workload loop did not, so
    each per-layer metric is measured on every workload."""
    for table in SCAN_TABLES:
        for _ in range(3):
            with run.span(f"sources.scan.{table}"):
                noop(load_table(run.spark, run.data_dir, table))
    for _ in range(2):
        with run.span("operators.technical_snapshot.exec"):
            noop(technical_snapshot(load_table(run.spark, run.data_dir, "events"),
                                    "user_id", "ts_us", "value"))
    if not run.tr.named(f"plans.{QUERIES[0]}"):
        ensure_entries(run)
        for name in QUERIES:
            run_entry(run, name, noop)
    ensure_serving(run)
    w = WORKLOADS["serving_reads"]
    done = {sp["name"] for sp in run.tr.spans}
    for spec in w._warm_specs(run):
        first = {"gold": "pipeline.read_gold.build", "screen": "api.screen.build",
                 "probe": "operators.ivf_pq_probe"}[spec[0]]
        if first not in done:
            w.do(run, spec)


def load_all(spark, data_dir: str) -> None:
    """Resolve every table's schema (fills the package's schema cache)."""
    for name in TABLE_NAMES:
        load_table(spark, data_dir, name).schema


def spec_hash(specs, n: int = 64) -> str:
    """Hash of the first `n` operation specs of a seeded stream."""
    h = hashlib.sha256()
    for _, spec in zip(range(n), specs):
        h.update(repr(spec).encode())
    return h.hexdigest()[:16]
