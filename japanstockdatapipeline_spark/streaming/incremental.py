"""Incremental-batch ops layer (SURVEY §2.9 ST1/ST2/ST5/ST7/ST9).

The reference's cron machinery (watermark forward-fill, catch-up of
missed business days, table locks, atomic snapshot publication,
retention pruning) collapses in Spark to: deterministic partition
overwrite + a small driver-side planner + a run-manifest table.
This module is that planner. It is pure DataFrame logic — the
planners return plans as data, the writers do atomic partition
overwrites — so the same code drives a 100 TB date-partitioned lake.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import _read_parquet_cached

__all__ = [
    "forward_fill_plan",
    "catch_up_plan",
    "write_partition_overwrite",
    "write_with_audit",
    "list_partitions",
    "remove_partition",
    "prune_retention",
    "merge_column_groups",
    "pending_null_cursor_days",
    "archive_partitions",
    "compaction_plan",
    "compact_partitions",
    "write_clustered_overwrite",
    "publish_version",
    "prune_versions",
    "published_versions",
    "read_published",
    "rollback_to",
    "snapshot_diff",
    "diff_versions",
    "RunManifest",
    "FreshnessError",
    "check_fresh",
    "assert_fresh",
]


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` via the Hadoop FS API — resolves
    local paths, HDFS, and object stores (s3a://, gs://, abfs://)
    through the same interface, so partition maintenance is not tied
    to a POSIX filesystem."""
    # JVM classes are looked up by their full name, one py4j round trip;
    # `spark._jvm.org.apache...` resolves one package at a time, each a
    # failed class lookup in the JVM
    hpath = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)  # noqa: SLF001
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, hpath


def list_partitions(spark: SparkSession, path: str, partition_col: str) -> list[str]:
    """Sorted partition values under `path` (dirs named `col=value`),
    listed through the Hadoop FS API. On a real deployment a catalog
    (HMS/Glue/Delta log) answers this; the FS listing is the
    catalog-free fallback with the same contract."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    prefix = f"{partition_col}="
    vals = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            vals.append(name.split("=", 1)[1])
    return sorted(vals)


def remove_partition(spark: SparkSession, path: str, partition_col: str, value: str) -> None:
    fs, hpath = _hadoop_fs(spark, f"{path}/{partition_col}={value}")
    fs.delete(hpath, True)


def forward_fill_plan(
    target_max_date: dt.date | None,
    today: dt.date,
    *,
    overlap_days: int = 1,
    floor_days: int = 60,
    max_days_per_run: int = 20,
) -> list[dt.date]:
    """ST1 watermark forward-fill (forward-fill.ts:100-200): start at
    the target's max date MINUS overlap (self-healing partial writes),
    floor at today - floor_days, cap the run length. Returns the
    ordered list of dates to (re)process.
    """
    floor = today - dt.timedelta(days=floor_days)
    if target_max_date is None:
        start = floor
    else:
        start = max(target_max_date - dt.timedelta(days=overlap_days - 1), floor)
    if start > today:
        return []
    days = []
    d = start
    while d <= today and len(days) < max_days_per_run:
        days.append(d)
        d += dt.timedelta(days=1)
    return days


def catch_up_plan(
    calendar_days: DataFrame,
    completed_days: DataFrame,
    *,
    lookback_days: int = 30,
    max_catch_up: int = 5,
    today: dt.date | None = None,
) -> list[dt.date]:
    """ST2 catch-up (catch-up.ts:49-117): business days within the
    lookback window MINUS days with a successful run; process the
    oldest `max_catch_up`. Inputs: single-column DataFrames `d`.
    The anti-join runs distributed; only the tiny result is collected.

    `today` defaults to the current date — the lookback window ALWAYS
    applies. (It used to be skipped entirely when today was omitted,
    which scheduled arbitrarily old — or future — calendar days and
    let the same `max_catch_up` ancient slots crowd out the real
    recent backlog on every run.)

    TIMEZONE: the default is the DRIVER-LOCAL wall-clock date
    (dt.date.today()), which can sit one day off the data calendar
    when the driver timezone differs (a UTC driver planning a JST
    calendar flips at 09:00 JST, not midnight). Production jobs
    should inject `today=` explicitly from the data calendar's clock
    — the tests do — and treat the default as an interactive
    convenience.
    """
    cal = calendar_days.select(F.col(calendar_days.columns[0]).alias("d"))
    done = completed_days.select(F.col(completed_days.columns[0]).alias("d"))
    if today is None:
        today = dt.date.today()
    lo = today - dt.timedelta(days=lookback_days)
    cal = cal.filter((F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(today)))
    missing = cal.join(done, "d", "left_anti").orderBy("d").limit(max_catch_up)
    return [r["d"] for r in missing.collect()]


def write_partition_overwrite(
    df: DataFrame, path: str, partition_col: str | list[str]
) -> None:
    """ST5 atomic snapshot publication: dynamic partition overwrite —
    replaces exactly the partitions present in `df`, atomically per
    partition. This replaces the reference's write-chunks-then-flip-
    publication-marker dance (00050:20-41). `partition_col` may be a
    list for multi-level partitioning (e.g. (date, ingest_batch) when
    one logical partition spans writers).
    """
    cols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
    # per-write option (not a session conf mutation): scopes dynamic
    # overwrite to THIS write, so concurrent jobs in the same session
    # keep their own overwrite semantics
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def clear_batch_partitions(
    spark: SparkSession, root: str, batch_id: int, *, nested: bool = False
) -> None:
    """Remove a prior attempt's `ingest_batch=N` partition dirs before a
    replayed micro-batch writes (or skips an empty write): dynamic
    partition overwrite only replaces partitions PRESENT in the new
    data, so a replay that now produces zero rows — or fewer
    partition_col values in the `nested` layout — would otherwise
    leave the previous attempt's rows live under the same batch id.
    `nested=True` globs `root/*/ingest_batch=N` for the
    (partition_col, ingest_batch) layout. No-op when nothing exists
    (first attempt, or root not yet created)."""
    pattern = (
        f"{root}/*/ingest_batch={int(batch_id)}"
        if nested
        else f"{root}/ingest_batch={int(batch_id)}"
    )
    fs, _ = _hadoop_fs(spark, root)
    glob_p = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(pattern)  # noqa: SLF001
    for st in fs.globStatus(glob_p) or []:
        fs.delete(st.getPath(), True)


def write_with_audit(
    df: DataFrame,
    path: str,
    partition_col: str | list[str],
    *,
    count_nulls: tuple[str, ...] = (),
) -> dict[str, int]:
    """ST7 in-flight audit metrics (job_run_items row/issue counts,
    00002:41-60) the Spark-native way: `df.observe` accumulates row
    and null counts DURING the write — no second scan of the input,
    unlike a count()-then-write which reads everything twice. Returns
    {"rows": n, "nulls_<col>": n, ...} for the run manifest.
    """
    from pyspark.sql import Observation

    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        for c in count_nulls
    ]
    observed = df.observe(obs, *metrics)
    write_partition_overwrite(observed, path, partition_col)
    # an EMPTY frame (always-write streaming sinks replay empty
    # micro-batches) observes F.sum as NULL — coalesce to 0 instead of
    # failing the batch on int(None) (review finding r11)
    return {k: int(v) if v is not None else 0 for k, v in obs.get.items()}


def prune_retention(
    spark: SparkSession, path: str, partition_col: str, keep_from: str
) -> list[str]:
    """ST9 retention pruning: drop partitions older than `keep_from`
    (partition dir names `col=value`). Returns removed partition values.
    A lake-format MERGE/DELETE would subsume this; for plain parquet
    dirs the partition layout makes pruning a directory operation —
    routed through the Hadoop FS API so the same code prunes an
    object-store lake.
    """
    removed = []
    for value in list_partitions(spark, path, partition_col):
        if value < keep_from:
            remove_partition(spark, path, partition_col, value)
            removed.append(value)
    return removed


def merge_column_groups(
    wide: DataFrame, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """ST4 NULL-cursor incremental fill (refresh-market-indicators.ts:
    244-259): the wide indicator table has independent column groups
    filled by independent sources; NULL = "not yet filled". Merge an
    update frame (key cols + its column group) into the wide table:
    full-outer join on keys, update wins where non-NULL, existing
    value preserved otherwise. Columns absent from one side pass
    through unchanged."""
    upd_cols = [c for c in updates.columns if c not in key_cols]
    u = updates
    for c in upd_cols:
        u = u.withColumnRenamed(c, f"__u_{c}")
    joined = wide.join(u, key_cols, "full_outer")
    out = joined
    for c in upd_cols:
        if c in wide.columns:
            out = out.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
        else:
            out = out.withColumn(c, F.col(f"__u_{c}"))
    return out.drop(*[f"__u_{c}" for c in upd_cols])


def pending_null_cursor_days(
    wide: DataFrame, key_col: str, group_cols: list[str], *, boundary=None
) -> DataFrame:
    """ST4 pending-work query: keys where ALL of my group's columns are
    still NULL (and past any expected-permanent-null boundary,
    market-breadth.ts:62-89)."""
    cond = None
    for c in group_cols:
        n = F.col(c).isNull()
        cond = n if cond is None else cond & n
    df = wide.filter(cond)
    if boundary is not None:
        df = df.filter(F.col(key_col) > F.lit(boundary))
    return df.select(key_col).orderBy(key_col)


def archive_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    archive_path: str,
    *,
    keep_latest: int,
    archive_batch: int,
) -> list[str]:
    """S12 archival sink (archive-equity-bars.ts:26-34): export the
    oldest `archive_batch` partitions to gzip CSV under archive_path,
    then delete them — keeping at least `keep_latest` partitions.
    Returns archived partition values. Listing and deletion go through
    the Hadoop FS API, so the same code archives an object-store lake."""
    parts = list_partitions(spark, path, partition_col)
    if len(parts) <= keep_latest:
        return []
    n = min(archive_batch, len(parts) - keep_latest)
    to_archive = parts[:n]
    for value in to_archive:
        df = spark.read.parquet(os.path.join(path, f"{partition_col}={value}"))
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("compression", "gzip")
            .option("header", True)
            .csv(os.path.join(archive_path, f"{partition_col}={value}"))
        )
    for value in to_archive:
        remove_partition(spark, path, partition_col, value)
    return to_archive


def write_clustered_overwrite(
    df: DataFrame,
    path: str,
    partition_col: str,
    cluster_by: list[str],
    *,
    files_per_partition: int = 4,
) -> None:
    """ST5 write path with LAYOUT CONTROL: dynamic partition
    overwrite where rows are range-partitioned and sorted by
    `cluster_by` within each date partition. Sorting before write
    makes parquet row-group min/max stats TIGHT on the cluster keys,
    so a later `WHERE key = x` scan skips whole files/row-groups via
    footer stats instead of reading them — the plain-parquet
    equivalent of Delta's OPTIMIZE ZORDER for the single-key case.
    At 100 TB this is the difference between a point lookup touching
    a handful of row groups and touching every file of the day.
    The test asserts the written files' footer ranges are disjoint,
    so a point predicate can prune all files but one."""
    (
        df.repartitionByRange(files_per_partition, partition_col, *cluster_by)
        .sortWithinPartitions(partition_col, *cluster_by)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        io_utils = getattr(spark._jvm, "org.apache.commons.io.IOUtils")  # noqa: SLF001
        return io_utils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_small_file(spark: SparkSession, path: str, content: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content, "utf-8"))
    finally:
        out.close()


def _flip_latest(spark: SparkSession, root: str, version: int) -> None:
    """Point `_LATEST` at `version`: write a tmp marker, delete the old
    one, rename. The only non-atomic instant is the missing-marker
    window, which readers handle by falling back to the highest
    complete version."""
    marker, tmp = f"{root}/_LATEST", f"{root}/._LATEST.tmp"
    _write_small_file(spark, tmp, str(version))
    fs, mp = _hadoop_fs(spark, marker)
    _, tp = _hadoop_fs(spark, tmp)
    fs.delete(mp, False)
    if not fs.rename(tp, mp):
        raise IOError(f"_LATEST flip to v={version} failed for {root}")


def publish_version(
    df: DataFrame, root: str, *, keep_versions: int = 3, flip: bool = True
) -> int:
    """ST5 generalized to WHOLE-SNAPSHOT atomicity with time travel
    (the reference writes chunks then flips a publication marker —
    00050:20-41; this is that dance done right on a lake): write the
    new snapshot to `root/v=<n>/`, then flip the tiny `_LATEST`
    pointer (`_flip_latest`). Readers pinned to
    an old version keep working until it is pruned; `keep_versions`
    old snapshots besides the newest are retained for time travel /
    rollback (delegated to `prune_versions`, which never deletes the
    snapshot `_LATEST` serves). `flip=False` is publish-WITHOUT-
    serving: write + retain the snapshot (pinned/time-travel readable)
    but leave the pointer on the current serving version — the
    backfill path (an older run_date must never demote newer serving
    data, and the previous flip-then-rollback dance left a window
    where a concurrent reader resolved the backfill; review finding
    r11). Returns the published version number."""
    spark = df.sparkSession
    versions = published_versions(spark, root)
    nxt = (versions[-1] + 1) if versions else 1
    df.write.mode("overwrite").parquet(f"{root}/v={nxt}")
    if flip:
        _flip_latest(spark, root, nxt)
    prune_versions(spark, root, keep_last=keep_versions + 1)
    return nxt


def prune_versions(
    spark: SparkSession,
    root: str,
    *,
    keep_last: int = 4,
    protect: tuple[int, ...] = (),
) -> list[int]:
    """Version-retention pruning for the publication layer (the
    reference prunes its published snapshots aggressively —
    00120:18-25, 00102:9-11, archive-equity-bars.ts:26-34; without
    this a daily cadence leaks ~1,095 full gold snapshots a year).
    Keeps the newest `keep_last` versions and deletes the rest —
    EXCEPT it never deletes (a) the version the `_LATEST` pointer
    currently serves (after a backfill/rollback the serving version
    is NOT the newest number, and deleting it would destroy the data
    readers resolve — the r11 ADVICE bug) or (b) any `protect`-listed
    version. Returns the pruned version numbers."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = published_versions(spark, root)
    keep = set(versions[-keep_last:]) | set(protect)
    served = latest_version(spark, root)
    if served is not None:
        keep.add(served)
    removed = []
    for v in versions:
        if v not in keep:
            fs_v, vp = _hadoop_fs(spark, f"{root}/v={v}")
            fs_v.delete(vp, True)
            removed.append(v)
    return removed


def published_versions(spark: SparkSession, root: str) -> list[int]:
    """Sorted snapshot versions present under `root` (complete dirs
    named v=<n>)."""
    return sorted(int(v) for v in list_partitions(spark, root, "v"))


def latest_version(spark: SparkSession, root: str) -> int | None:
    """The version the `_LATEST` pointer currently serves (falling
    back to the highest complete version mid-flip), or None when
    nothing is published yet."""
    raw = _read_small_file(spark, f"{root}/_LATEST")
    if raw is not None:
        return int(raw.strip())
    versions = published_versions(spark, root)
    return versions[-1] if versions else None


def read_published(
    spark: SparkSession, root: str, *, version: int | None = None
) -> DataFrame:
    """Resolve the `_LATEST` pointer (or an explicit `version` for
    time travel) and read that snapshot. If the marker is mid-flip
    (missing), fall back to the highest version present. The version's
    schema comes from the path-keyed schema cache, so only the first
    read of a version runs Spark's schema-inference job."""
    if version is None:
        version = latest_version(spark, root)
        if version is None:
            raise FileNotFoundError(f"no published versions under {root}")
    elif version not in published_versions(spark, root):
        # a pinned read of a PRUNED (or never-published) version must
        # fail loudly and deterministically, not with a generic
        # path-not-found deep in a query plan (r11: retention pruning
        # makes this path reachable in normal operation)
        raise FileNotFoundError(
            f"version {version} not present under {root} (pruned or never"
            f" published); retained: {published_versions(spark, root)}"
        )
    return _read_parquet_cached(spark, f"{root}/v={version}")


def rollback_to(spark: SparkSession, root: str, version: int) -> None:
    """Flip `_LATEST` back to a retained older version — the instant
    undo for a bad publish (no data movement; the bad snapshot stays
    on disk for forensics until pruned)."""
    if version not in published_versions(spark, root):
        raise ValueError(f"version {version} not present under {root}")
    _flip_latest(spark, root, version)


def snapshot_diff(
    before: DataFrame, after: DataFrame, keys: list[str]
) -> DataFrame:
    """Row-level diff between two snapshots (the review tool for the
    publication layer: what changed between v=N and v=N+1 before the
    flip, or post-hoc between any two retained versions). One
    full-outer join on the keys; each row is tagged 'added' /
    'removed' / 'changed' / 'unchanged' by comparing the non-key
    columns null-safely. Scale: a single co-partitioned shuffle on
    the keys — the same cost as any keyed join of the two snapshots."""
    val_cols = [c for c in before.columns if c not in keys]
    after_cols = {c for c in after.columns if c not in keys}
    # explicit, order-insensitive check (a select/join between
    # versions commonly reorders columns; and an assert would vanish
    # under python -O, letting mismatched schemas reach the join)
    if set(val_cols) != after_cols:
        raise ValueError(
            f"snapshot_diff schema mismatch: before-only "
            f"{sorted(set(val_cols) - after_cols)}, after-only "
            f"{sorted(after_cols - set(val_cols))}"
        )
    # explicit presence markers: a row whose value columns are all
    # NULL is still PRESENT, so presence cannot be inferred from the
    # value columns
    b = before.withColumn("__b_present", F.lit(True))
    a = after.withColumn("__a_present", F.lit(True))
    for c in val_cols:
        b = b.withColumnRenamed(c, f"__b_{c}")
        a = a.withColumnRenamed(c, f"__a_{c}")
    j = b.join(a, keys, "full_outer")
    in_b = F.coalesce(F.col("__b_present"), F.lit(False))
    in_a = F.coalesce(F.col("__a_present"), F.lit(False))
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"__b_{c}").eqNullSafe(F.col(f"__a_{c}"))
    status = (
        F.when(~in_b & in_a, "added")
        .when(in_b & ~in_a, "removed")
        .when(same, "unchanged")
        .otherwise("changed")
    )
    out = j.withColumn("diff_status", status).drop("__b_present", "__a_present")
    renames = {f"__b_{c}": f"before_{c}" for c in val_cols}
    renames.update({f"__a_{c}": f"after_{c}" for c in val_cols})
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out


def diff_versions(
    spark: SparkSession, root: str, v_before: int, v_after: int, keys: list[str]
) -> DataFrame:
    """snapshot_diff over two retained published versions."""
    return snapshot_diff(
        read_published(spark, root, version=v_before),
        read_published(spark, root, version=v_after),
        keys,
    )


def compaction_plan(
    spark: SparkSession,
    path: str,
    partition_col: str,
    *,
    max_files: int = 4,
    target_bytes: int = 128 << 20,
) -> list[dict]:
    """ST9 companion — small-file compaction PLANNER: per partition,
    count data files and bytes through the Hadoop FS API and flag
    partitions whose file count exceeds both `max_files` and the
    size-derived target (ceil(bytes / target_bytes)). Incremental
    daily appends are the classic small-file factory; at 100 TB an
    uncompacted lake pays per-file open cost on every scan, so the
    nightly job runs this planner and rewrites only flagged
    partitions. Returns plan rows (value, n_files, bytes,
    target_files, rewrite) — a pure plan; `compact_partitions`
    executes it."""
    plan = []
    for value in list_partitions(spark, path, partition_col):
        fs, p = _hadoop_fs(spark, f"{path}/{partition_col}={value}")
        n_files, nbytes = 0, 0
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith(("_", ".")):
                n_files += 1
                nbytes += st.getLen()
        target = max(1, -(-nbytes // target_bytes))  # ceil
        plan.append(
            {
                "value": value,
                "n_files": n_files,
                "bytes": nbytes,
                "target_files": target,
                "rewrite": n_files > max(max_files, target),
            }
        )
    return plan


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    *,
    max_files: int = 4,
    target_bytes: int = 128 << 20,
) -> list[dict]:
    """Execute `compaction_plan`: rewrite each flagged partition to
    its target file count — read, repartition(target), write to a
    dot-prefixed sibling dir (invisible to Spark scans), then swap by
    renames: src -> dot-prefixed trash, tmp -> src, delete trash.
    The ORIGINAL data is never deleted before the rewritten data is
    in place, so a crash mid-swap loses nothing (worst case the
    partition is briefly absent and the trash dir holds the original
    for manual restore — each individual HDFS/local rename is atomic,
    but the three-step swap as a whole is not, and concurrent readers
    can see the partition missing for an instant). On object stores
    rename is copy-based, so a production deployment swaps through
    the table format's commit (Delta/Iceberg rewrite) — the planner
    half is unchanged. Returns the executed plan."""
    plan = compaction_plan(
        spark, path, partition_col, max_files=max_files, target_bytes=target_bytes
    )
    for row in plan:
        if not row["rewrite"]:
            continue
        src = f"{path}/{partition_col}={row['value']}"
        tmp = f"{path}/.compact_{partition_col}={row['value']}"
        trash = f"{path}/.compact_trash_{partition_col}={row['value']}"
        spark.read.parquet(src).repartition(row["target_files"]).write.mode(
            "overwrite"
        ).parquet(tmp)
        fs, src_p = _hadoop_fs(spark, src)
        _, tmp_p = _hadoop_fs(spark, tmp)
        _, trash_p = _hadoop_fs(spark, trash)
        fs.delete(trash_p, True)  # clear any leftover from a prior crash
        if not fs.rename(src_p, trash_p):
            raise IOError(f"compaction swap failed moving {src} aside")
        if not fs.rename(tmp_p, src_p):
            # restore the original rather than leaving the partition gone;
            # if the restore itself fails, say where the only copy sits
            # instead of claiming a restore that didn't happen
            if fs.rename(trash_p, src_p):
                raise IOError(f"compaction swap failed for {src}; original restored")
            raise IOError(
                f"compaction swap failed for {src} AND the restore rename "
                f"failed — the only copy of the partition is at {trash}"
            )
        fs.delete(trash_p, True)
    return plan


class FreshnessError(RuntimeError):
    pass


def check_fresh(
    max_date: dt.date | dt.datetime | None,
    *,
    as_of: dt.date,
    max_staleness_days: int,
    what: str,
) -> None:
    """ST9 stale guard (00117:230-247): refuse to serve precomputed
    data older than the staleness budget — error, never silently stale.
    `max_date` is the newest `what` date of the data (None: no rows);
    data exactly `max_staleness_days` old is still served."""
    if max_date is None:
        raise FreshnessError(f"no data in {what}")
    mxd = max_date.date() if isinstance(max_date, dt.datetime) else max_date
    age = (as_of - mxd).days
    if age > max_staleness_days:
        raise FreshnessError(
            f"stale: max({what})={mxd} is {age}d old (budget {max_staleness_days}d)"
        )


def assert_fresh(
    df: DataFrame, date_col: str, *, as_of: dt.date, max_staleness_days: int = 5
) -> None:
    """`check_fresh` on `df`'s max(`date_col`), found by a scan."""
    check_fresh(
        df.agg(F.max(date_col)).first()[0],
        as_of=as_of,
        max_staleness_days=max_staleness_days,
        what=date_col,
    )


class RunManifest:
    """ST7 run log (job_runs/job_run_items, 00002:5-95) as a JSONL
    manifest: one record per (job, target_date) attempt, idempotency by
    natural key. Replaces table locks/heartbeats — a single Spark
    driver owns the pipeline run.

    Failure notification (cron-a.ts:340-353, the sendJobFailureEmail
    hook; src/app/api/notify/failure): pass `on_failure` — a callable
    `(job, target_date, details_dict) -> None` — and a non-success
    `finish` invokes it ONCE per (job, target_date, status): a
    "notified" record is appended to the manifest first, so an
    idempotent re-run of the same failed day does not re-notify (the
    reference gets the same dedup from overheat_stage_event's UNIQUE
    (code, date, stage_to) — one email per distinct transition). A
    raising callback is caught and recorded, never propagated — a
    broken notifier must not fail the pipeline (the reference wraps
    sendJobFailureEmail in its own try/catch for the same reason).

    Appends are serialized by a lock, so steps running on concurrent
    threads (the daily pipeline's chains) never interleave a record.
    """

    def __init__(self, path: str, *, on_failure=None):
        self.path = path
        self.on_failure = on_failure
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def start(self, job: str, target_date: str) -> str:
        run_id = str(uuid.uuid4())
        self._append(
            {
                "run_id": run_id,
                "job": job,
                "target_date": target_date,
                "status": "running",
                "ts": time.time(),
            }
        )
        return run_id

    def finish(self, run_id: str, status: str, **details) -> None:
        self._append(
            {"run_id": run_id, "status": status, "ts": time.time(), **details}
        )
        if status != "success" and self.on_failure is not None:
            job, target_date = self._run_key(run_id)
            if job is None:
                # unknown run_id: without a (job, date) key the dedup
                # set would collapse to (None, None, status) across ALL
                # jobs — record the anomaly and skip notification
                self._append(
                    {
                        "run_id": run_id,
                        "status": "notify_skipped_unknown_run",
                        "ts": time.time(),
                    }
                )
                return
            if (job, target_date, status) in self._notified():
                return
            # record BEFORE invoking: a crash mid-callback errs on the
            # side of not re-spamming, and a re-run sees the record
            self._append(
                {
                    "run_id": run_id,
                    "job": job,
                    "target_date": target_date,
                    "status": "notified",
                    "notified_for": status,
                    "ts": time.time(),
                }
            )
            try:
                self.on_failure(job, target_date, dict(details))
            except Exception as e:  # notifier failure must not fail the run
                self._append(
                    {
                        "run_id": run_id,
                        "status": "notify_error",
                        "error": str(e)[:500],
                        "ts": time.time(),
                    }
                )

    def _run_key(self, run_id: str) -> tuple[str | None, str | None]:
        job, target_date = None, None
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("run_id") == run_id and "job" in rec:
                        job, target_date = rec["job"], rec.get("target_date")
        return job, target_date

    def _notified(self) -> set[tuple]:
        out = set()
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("status") == "notified":
                        out.add(
                            (rec.get("job"), rec.get("target_date"), rec.get("notified_for"))
                        )
        return out

    def completed_dates(self, job: str) -> set[str]:
        done: dict[str, str] = {}
        started: dict[str, str] = {}
        if not os.path.exists(self.path):
            return set()
        with open(self.path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("job") == job and "target_date" in rec:
                    started[rec["run_id"]] = rec["target_date"]
                elif rec.get("status") == "success" and rec["run_id"] in started:
                    done[started[rec["run_id"]]] = rec["run_id"]
        return set(done)

    def _append(self, rec: dict) -> None:
        line = json.dumps(rec) + "\n"
        with self._lock, open(self.path, "a") as f:
            f.write(line)
