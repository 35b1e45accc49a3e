"""End-to-end daily pipeline (the Spark shape of SURVEY §3.1's Cron A:
ingest → silver typed tables → DAG of gold jobs → versioned
publication, wrapped in a run manifest) plus the SERVING read path.

`run_daily_pipeline(spark, sf_dir, out_dir, run_date)` executes:
  1. silver: events normalized (ts_us, day) — partitioned by day,
     dynamic partition overwrite (idempotent re-runs, ST1 overlap)
  2. gold: per-user technical snapshot (grouped-map)
  3. gold: market breadth (A/D ratio + %-above-SMA), one wide
     indicators table built in one pass over events (`market_breadth`)
  4. gold: the §7.1 stock-metrics screen, one pass over orders
with every step logged to the RunManifest (ST7).

The steps form a DAG of three chains, each run on its own
`InheritableThread` and all joined before the call returns:
silver_events → gold_snapshot (the snapshot reads the silver table),
gold_market_indicators (reads raw events) and gold_stock_screen (reads
orders and customer). Only the snapshot waits for another step. Each
stage of a refresh is one task, so the chains' jobs share the cores
instead of queueing behind each other. The threads inherit the
caller's local properties, so a job group set by the caller still sees
every job the steps run; the steps set none of their own. A failed step
is recorded `failed` and the rest of its chain does not start (a
failed silver means no snapshot step at all); the other chains run to
completion and publish. After the join the exception of the first
failed step, in step order, is raised again. The returned counts are
in step order.

Gold tables are PUBLISHED via `publish_version` (ST5 whole-snapshot
atomicity: write v=<n>, flip the _LATEST pointer — the reference's
write-chunks-then-flip-publication-marker dance, 00050:20-41, done on
a lake), so a re-run publishes a NEW version and readers mid-query
keep their pinned snapshot; old versions are retained for time
travel/rollback. Every publish is atomic per table and the backfill
guard is per table, so the chains need no coordination beyond the
manifest's append lock.

The returned counts (and the manifest's `rows`) are the rows THIS run
wrote, observed during each write (`df.observe`), not a read-back of
the table: a warm refresh runs its four writes and no re-reads. Each
publish that wrote rows is followed by a `v=<n>/_AS_OF` marker holding
the run date, so the marker states exactly what a max(as_of) scan of
the version would return. The backfill guard (an older run_date never
demotes the served snapshot) reads the served version's marker; a
version without one (a lake from before markers, a crash between
publish and marker, or an empty version) falls back to the scan.

`read_gold(spark, out_dir, table, as_of=...)` is the serving read:
resolve the _LATEST pointer once (or an explicit `version` for time
travel) and REFUSE to serve stale data — `check_fresh` on that
version's publication date, from the same marker with the same scan
fallback, errors when the snapshot is older than the staleness budget
(ST9, reference 00117:230-247: error, never silently stale). The
version's schema comes from the schema cache, so a read of a version
already read once, plus its filter and collect, runs one Spark job:
the collect. Round-9 verdict #6 closed: the pipeline's own gold
tables now flow through the publish/read/freshness layer instead of
bypassing it with raw partition overwrites.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.snapshot import technical_snapshot
from .plans.technical import market_breadth
from .sources import load_table
from .streaming.incremental import (
    RunManifest,
    _read_small_file,
    _write_small_file,
    check_fresh,
    latest_version,
    publish_version,
    read_published,
    write_partition_overwrite,
)

__all__ = ["run_daily_pipeline", "read_gold", "GOLD_TABLES"]

GOLD_TABLES = ("snapshot", "market_indicators", "stock_screen")


def _silver_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("ts_us DIV 86400000000")
    )


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with its row count observed while an action (the write)
    runs, so the count costs no second scan; read it as
    `obs.get["rows"]` once the write has returned."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _as_of_marker(root: str, version: int) -> str:
    """The file holding a published version's run date. Parquet readers
    skip `_`-prefixed files, so it never shows up as data."""
    return f"{root}/v={version}/_AS_OF"


def _version_as_of(spark: SparkSession, root: str, version: int) -> dt.date | None:
    """Publication date of published `version`, or None when it has no
    rows. Reads the version's `_AS_OF` marker; a version without one (a
    lake written before markers existed, a crash between the publish
    and the marker write, or an empty version) is scanned for its
    max(as_of) instead."""
    raw = _read_small_file(spark, _as_of_marker(root, version))
    if raw is not None:
        return dt.date.fromisoformat(raw.strip())
    return (
        read_published(spark, root, version=version).agg(F.max("as_of")).first()[0]
    )


def _served_as_of(spark: SparkSession, root: str) -> dt.date | None:
    """Publication date of the snapshot `_LATEST` serves, or None when
    nothing (or an empty snapshot) is published."""
    v = latest_version(spark, root)
    return None if v is None else _version_as_of(spark, root, v)


def read_gold(
    spark: SparkSession,
    out_dir: str,
    table: str,
    *,
    as_of: dt.date,
    max_staleness_days: int = 5,
    version: int | None = None,
) -> DataFrame:
    """Serving-side read of a published gold table. Resolves the
    `_LATEST` pointer once and checks that version's publication date
    (`_version_as_of`) is within `max_staleness_days` of the caller's
    clock — raising FreshnessError instead of serving stale data (the
    reference mandate: error, don't serve stale, 00117:233-241). The
    data and the date come from the same resolved version, so a
    concurrent flip cannot pair one version's rows with another's date.
    Pinning `version` is a time-travel/forensic read of a retained
    snapshot and is exempt from the freshness guard (an old version
    is old by definition; guarding it would defeat retention)."""
    if table not in GOLD_TABLES:
        raise ValueError(f"unknown gold table {table!r}; have {GOLD_TABLES}")
    root = os.path.join(out_dir, "gold", table)
    if version is not None:
        return read_published(spark, root, version=version)
    v = latest_version(spark, root)
    if v is None:
        raise FileNotFoundError(f"no published versions under {root}")
    df = read_published(spark, root, version=v)
    check_fresh(
        _version_as_of(spark, root, v),
        as_of=as_of,
        max_staleness_days=max_staleness_days,
        what="as_of",
    )
    return df


def _publish_gold(df: DataFrame, root: str, run_date: str) -> int:
    """Publish one gold table's rows, stamped `as_of` = `run_date`, as a
    new version under `root`, followed by its `_AS_OF` marker. Returns
    the rows written."""
    spark = df.sparkSession
    run_as_of = dt.date.fromisoformat(run_date)
    # backfill guard (review findings r10+r11): re-running an
    # OLDER run_date (backfilling a failed day, the oldest-first
    # catch_up_plan flow) must never demote the newer serving
    # snapshot. Decide BEFORE publishing: probe the currently-
    # served as_of; if it is newer than this run, publish the
    # backfill WITHOUT flipping _LATEST (flip=False — retained for
    # time travel, pointer untouched). The previous flip-then-
    # rollback dance both exposed a window where concurrent
    # readers resolved the backfill AND let version pruning delete
    # the rollback target after keep_versions consecutive
    # backfills (the r11 ADVICE bug; prune_versions now also
    # protects the _LATEST target as defense in depth).
    served = _served_as_of(spark, root)
    flip = served is None or served <= run_as_of
    # as_of is a DATE (not a string): the freshness guard compares it
    # against the serving clock
    df, obs = _counted(df.withColumn("as_of", F.to_date(F.lit(run_date))))
    v = publish_version(df, root, flip=flip)
    rows = obs.get["rows"]
    # the marker states what a max(as_of) scan would return, and an
    # empty version has none
    if rows > 0:
        _write_small_file(spark, _as_of_marker(root, v), run_as_of.isoformat())
    return rows


def run_daily_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str, run_date: str
) -> dict[str, int]:
    manifest = RunManifest(os.path.join(out_dir, "ops", "runs.jsonl"))
    counts: dict[str, int] = {}
    errors: dict[str, BaseException] = {}

    def run_chain(chain):
        # a failed step ends its chain: the steps after it read what it
        # would have written
        for job, fn in chain:
            run_id = manifest.start(job, run_date)
            try:
                n = fn()
            except BaseException as e:  # noqa: BLE001 — raised again after the join
                manifest.finish(run_id, "failed", error=str(e))
                errors[job] = e
                return
            manifest.finish(run_id, "success", rows=n)
            counts[job] = n

    def publish_gold(df: DataFrame, table: str) -> int:
        return _publish_gold(df, os.path.join(out_dir, "gold", table), run_date)

    silver_path = os.path.join(out_dir, "silver", "events")
    silver_schema = None

    def silver():
        nonlocal silver_schema
        df, obs = _counted(_silver_events(spark, sf_dir))
        silver_schema = df.schema
        write_partition_overwrite(df, silver_path, "day")
        return obs.get["rows"]

    def snapshot():
        # the schema just written: no parquet schema-inference job
        ev = spark.read.schema(silver_schema).parquet(silver_path)
        return publish_gold(
            technical_snapshot(ev, "user_id", "ts_us", "value"), "snapshot"
        )

    def indicators():
        return publish_gold(market_breadth(spark, sf_dir), "market_indicators")

    def metrics_screen():
        # §7.1 slice: rebase -> momentum pivot -> FY/prev-FY -> sector
        # scores -> total score -> screen table (00108/00049/00051)
        from .plans.composed import stock_metrics_pipeline

        return publish_gold(stock_metrics_pipeline(spark, sf_dir), "stock_screen")

    chains = (
        (("silver_events", silver), ("gold_snapshot", snapshot)),
        (("gold_market_indicators", indicators),),
        (("gold_stock_screen", metrics_screen),),
    )
    threads = [InheritableThread(run_chain, args=(c,)) for c in chains]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    steps = [job for chain in chains for job, _ in chain]
    for job in steps:
        if job in errors:
            raise errors[job]
    return {job: counts[job] for job in steps}
