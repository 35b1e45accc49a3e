"""Tests for ST4 null-cursor merge, ST8 rebase, S12 archival, ST3
stateful streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from japanstockdatapipeline_spark.operators.rebase import (
    detect_restatement_keys,
    rebase_adjusted,
)
from japanstockdatapipeline_spark.sources import load_table
from japanstockdatapipeline_spark.streaming.incremental import (
    archive_partitions,
    merge_column_groups,
    pending_null_cursor_days,
    write_partition_overwrite,
)
from japanstockdatapipeline_spark.streaming.jobs import (
    events_stream,
    run_to_parquet,
    stateful_user_breadth,
)


def test_merge_column_groups_null_cursor(spark):
    wide = spark.createDataFrame(
        [("d1", 1.0, None), ("d2", None, 2.0), ("d3", None, None)],
        ["d", "a", "b"],
    )
    upd = spark.createDataFrame([("d2", 20.0), ("d3", 30.0), ("d4", 40.0)], ["d", "a"])
    out = {r["d"]: (r["a"], r["b"]) for r in merge_column_groups(wide, upd, ["d"]).collect()}
    assert out == {
        "d1": (1.0, None),   # untouched group preserved
        "d2": (20.0, 2.0),   # update fills the NULL cursor
        "d3": (30.0, None),
        "d4": (40.0, None),  # new key appears
    }


def test_pending_null_cursor_days(spark):
    wide = spark.createDataFrame(
        [("d1", 1.0, None), ("d2", None, None), ("d3", None, 5.0)], ["d", "a", "b"]
    )
    pend = [r["d"] for r in pending_null_cursor_days(wide, "d", ["a", "b"]).collect()]
    assert pend == ["d2"]
    pend2 = [r["d"] for r in pending_null_cursor_days(wide, "d", ["a"]).collect()]
    assert pend2 == ["d2", "d3"]


def test_rebase_adjusted_split_semantics(spark):
    # split factor 0.5 effective on day 3: all PRIOR days get x0.5
    rows = [
        ("A", 1, 100.0, 1000, None),
        ("A", 2, 102.0, 1100, 1.0),
        ("A", 3, 51.0, 2200, 0.5),
        ("A", 4, 52.0, 2300, None),
        ("B", 1, 10.0, 500, None),
    ]
    df = spark.createDataFrame(rows, ["code", "d", "close", "volume", "factor"])
    out = rebase_adjusted(
        df, "code", "d", "factor", ["close"], ["volume"], tiebreak="d"
    )
    got = {(r["code"], r["d"]): (r["adj_close"], r["adj_volume"]) for r in out.collect()}
    assert got[("A", 1)] == (50.0, 2000)   # before split: halved price, doubled volume
    assert got[("A", 2)] == (51.0, 2200)
    assert got[("A", 3)] == (51.0, 2200)   # the split-day row itself is NOT adjusted
    assert got[("A", 4)] == (52.0, 2300)
    assert got[("B", 1)] == (10.0, 500)    # untouched entity

    keys = detect_restatement_keys(df, "code", "d", "factor", since=2)
    assert [r["code"] for r in keys.collect()] == ["A"]


def test_archive_partitions(spark, tmp_path):
    path, arch = str(tmp_path / "bars"), str(tmp_path / "archive")
    df = spark.createDataFrame(
        [(f"2026-08-{d:02d}", d) for d in range(1, 6)], ["d", "v"]
    )
    write_partition_overwrite(df, path, "d")
    archived = archive_partitions(
        spark, path, "d", arch, keep_latest=3, archive_batch=10
    )
    assert archived == ["2026-08-01", "2026-08-02"]
    left = {str(r["d"]) for r in spark.read.parquet(path).collect()}
    assert left == {"2026-08-03", "2026-08-04", "2026-08-05"}
    back = spark.read.option("header", True).csv(f"{arch}/d=2026-08-01")
    assert back.count() == 1 and back.first()["v"] == "1"
    # nothing left to archive within the keep budget
    assert archive_partitions(spark, path, "d", arch, keep_latest=3, archive_batch=10) == []


def test_stateful_user_breadth_stream(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_us", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ev.limit(300).write.parquet(src)
    out = stateful_user_breadth(events_stream(spark, src))
    dst = str(tmp_path / "out")
    run_to_parquet(out, dst, str(tmp_path / "cp"))
    got = spark.read.parquet(dst)
    rows = {r["user_id"]: r for r in got.collect()}
    # state math cross-checked against the batch window form (W20)
    batch = ev.limit(300).toPandas().sort_values(["ts_us", "event_id"])
    for uid, grp in batch.groupby("user_id"):
        v = grp["value"].to_list()
        highs = sum(1 for i in range(1, len(v)) if v[i] > max(v[:i]))
        assert rows[uid]["n_seen"] == len(v)
        assert rows[uid]["running_max"] == pytest.approx(max(v))
        assert rows[uid]["new_highs_in_batch"] == highs


def test_write_with_audit_observes_rows_and_nulls(spark, tmp_path):
    from japanstockdatapipeline_spark.streaming.incremental import write_with_audit

    df = spark.createDataFrame(
        [("2024-01-01", 1, None), ("2024-01-01", 2, 5.0), ("2024-01-02", 3, None)],
        "d string, k int, v double",
    )
    metrics = write_with_audit(
        df, str(tmp_path / "audited"), "d", count_nulls=("v",)
    )
    assert metrics == {"rows": 3, "nulls_v": 2}
    back = spark.read.parquet(str(tmp_path / "audited"))
    assert back.count() == 3


def test_manifest_replay_query_matches_runmanifest_code(spark, tmp_path):
    """The manifest_replay query's verdicts must equal what the actual
    RunManifest + catch_up_plan code produces for the same scenario:
    attempt 1 fails on dn%5==0 days, the retry fails again on dn%10==0."""
    import datetime as dt

    from japanstockdatapipeline_spark.plans import all_members
    from japanstockdatapipeline_spark.streaming.incremental import (
        RunManifest,
        catch_up_plan,
    )

    sf = "/root/testdata/sf0.001"
    rows = all_members()["manifest_replay"].fn(spark, sf).collect()

    # replay the same scenario through the real manifest code
    epoch = dt.date(1970, 1, 1)
    manifest = RunManifest(str(tmp_path / "runs.jsonl"))
    days = sorted(dt.date.fromisoformat(r["order_date"]) for r in rows)
    for day in days:
        dn = (day - epoch).days
        rid = manifest.start("gold_refresh", day.isoformat())
        manifest.finish(rid, "failed" if dn % 5 == 0 else "success")
        if dn % 5 == 0:
            rid2 = manifest.start("gold_refresh", day.isoformat())
            manifest.finish(rid2, "failed" if dn % 10 == 0 else "success")

    completed = manifest.completed_dates("gold_refresh")
    for r in rows:
        assert (r["order_date"] in completed) == r["is_completed"]
        dn = (dt.date.fromisoformat(r["order_date"]) - epoch).days
        assert r["n_attempts"] == (2 if dn % 5 == 0 else 1)

    cal = spark.createDataFrame([(d,) for d in days], ["d"])
    done = spark.createDataFrame(
        [(dt.date.fromisoformat(s),) for s in sorted(completed)] or [(None,)], ["d"]
    )
    # anchor the lookback window to the replay's own date range (the
    # planner now always applies it; unanchored it would default to
    # the wall clock and filter these historical days out entirely)
    planned_code = set(
        catch_up_plan(
            cal,
            done,
            max_catch_up=5,
            today=max(days),
            lookback_days=(max(days) - min(days)).days,
        )
    )
    planned_query = {dt.date.fromisoformat(r["order_date"]) for r in rows if r["catch_up_planned"]}
    assert planned_code == planned_query


def test_compaction_planner_and_rewrite(spark, tmp_path):
    from japanstockdatapipeline_spark.streaming.incremental import (
        compact_partitions,
        compaction_plan,
    )

    path = str(tmp_path / "facts")
    df = spark.range(2000).select(
        F.when(F.col("id") < 1000, "2024-01-01").otherwise("2024-01-02").alias("d"),
        F.col("id").alias("v"),
    )
    # day 1 fragmented into 8 files, day 2 already compact
    write_partition_overwrite(df.filter("d = '2024-01-01'").repartition(8), path, "d")
    (
        df.filter("d = '2024-01-02'")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path + "/d=2024-01-02")
    )

    plan = {p["value"]: p for p in compaction_plan(spark, path, "d", max_files=4)}
    assert plan["2024-01-01"]["n_files"] == 8 and plan["2024-01-01"]["rewrite"]
    assert plan["2024-01-02"]["n_files"] == 1 and not plan["2024-01-02"]["rewrite"]
    # tiny partitions collapse to the size-derived target (1 file)
    assert plan["2024-01-01"]["target_files"] == 1

    before = sorted(r["v"] for r in spark.read.parquet(path).collect())
    executed = compact_partitions(spark, path, "d", max_files=4)
    assert any(p["rewrite"] for p in executed)

    after_plan = {p["value"]: p for p in compaction_plan(spark, path, "d", max_files=4)}
    assert after_plan["2024-01-01"]["n_files"] == 1
    assert not any(p["rewrite"] for p in after_plan.values())
    # data identical after the swap (values and partition column)
    after = sorted(r["v"] for r in spark.read.parquet(path).collect())
    assert after == before
    assert spark.read.parquet(path).filter("d = '2024-01-01'").count() == 1000


def test_clustered_write_has_prunable_footers(spark, tmp_path):
    """Sorted-within-partition writes must yield near-disjoint
    per-file min/max on the cluster key, so a point predicate can
    skip every file but one via footer stats."""
    import glob

    import pyarrow.parquet as pq

    from japanstockdatapipeline_spark.streaming.incremental import (
        write_clustered_overwrite,
    )

    path = str(tmp_path / "bars")
    # every code present in BOTH days (id//2 cycles 0..499 while the
    # day alternates) — the earlier even-ids/odd-ids split put only
    # even codes in day 1 and odd codes in day 2, so the probe key
    # below was ABSENT from one day and whether it fell inside a
    # file's [min,max] there depended on sampled range boundaries
    # (the round-5 flake)
    df = spark.range(4000).select(
        F.when(F.col("id") % 2 == 0, "2024-01-01").otherwise("2024-01-02").alias("d"),
        ((F.col("id") / 2).cast("long") % 500).alias("code"),
        F.col("id").alias("v"),
    )
    write_clustered_overwrite(df, path, "d", ["code"], files_per_partition=4)

    back = spark.read.parquet(path)
    assert back.count() == 4000
    for day in ("2024-01-01", "2024-01-02"):
        ranges = []
        for f in glob.glob(f"{path}/d={day}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("code")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
        assert len(ranges) >= 2  # actually split into multiple files
        ranges.sort()
        # disjointness: a key never spans two files (same (d, code)
        # tuple -> same range partition)
        for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
            assert hi_a <= lo_b
        # coverage, asserted separately: the probe key EXISTS in this
        # day, so exactly one file's footer range covers it
        probe = 250
        hits = [r for r in ranges if r[0] <= probe <= r[1]]
        assert len(hits) >= 1  # coverage: the key's file is findable
        assert len(hits) == 1  # pruning: and it is the only candidate


def test_versioned_publication_time_travel_and_rollback(spark, tmp_path):
    from japanstockdatapipeline_spark.streaming.incremental import (
        publish_version,
        published_versions,
        read_published,
        rollback_to,
    )

    root = str(tmp_path / "gold")
    v1 = publish_version(spark.range(10).selectExpr("id AS v"), root)
    v2 = publish_version(spark.range(20).selectExpr("id AS v"), root)
    assert (v1, v2) == (1, 2)
    assert read_published(spark, root).count() == 20  # latest
    assert read_published(spark, root, version=1).count() == 10  # time travel
    assert published_versions(spark, root) == [1, 2]

    # bad publish -> instant rollback, no data movement
    publish_version(spark.range(1).selectExpr("id AS v"), root)
    assert read_published(spark, root).count() == 1
    rollback_to(spark, root, 2)
    assert read_published(spark, root).count() == 20
    assert published_versions(spark, root) == [1, 2, 3]  # forensics kept

    # retention: keep_versions bounds the non-current tail
    for _ in range(4):
        publish_version(spark.range(5).selectExpr("id AS v"), root, keep_versions=2)
    vs = published_versions(spark, root)
    assert len(vs) == 3  # current + 2 retained
    assert read_published(spark, root).count() == 5

    # mid-flip resilience: marker missing -> highest version wins
    import os

    os.remove(os.path.join(root, "_LATEST"))
    assert read_published(spark, root).count() == 5


def test_prune_versions_never_deletes_serving_or_protected(spark, tmp_path):
    """r11 ADVICE (high): after a backfill/rollback the serving version
    is NOT the newest number; pruning by version number alone deletes
    the serving snapshot's data. prune_versions must protect the
    `_LATEST` target and any protect-listed version."""
    import pytest

    from japanstockdatapipeline_spark.streaming.incremental import (
        latest_version,
        prune_versions,
        publish_version,
        published_versions,
        read_published,
        rollback_to,
    )

    root = str(tmp_path / "gold")
    publish_version(spark.range(11).selectExpr("id AS v"), root)  # v1: serving
    # the ADVICE scenario: keep_versions+1 consecutive BACKFILLS of
    # older run_dates (max_catch_up=5, oldest first) — publish-only,
    # pointer stays on v1
    for n in range(4):
        publish_version(
            spark.range(n + 1).selectExpr("id AS v"),
            root,
            keep_versions=2,
            flip=False,
        )
    # serving snapshot SURVIVED the prunes and still reads 11 rows
    assert latest_version(spark, root) == 1
    assert read_published(spark, root).count() == 11
    # newest keep_versions+1 = 3 backfills retained, plus protected v1
    assert published_versions(spark, root) == [1, 3, 4, 5]

    # explicit protect list: prune everything except serving + v3
    removed = prune_versions(spark, root, keep_last=1, protect=(3,))
    assert removed == [4]
    assert published_versions(spark, root) == [1, 3, 5]

    # rollback to a PROTECTED retained version still works
    # (v3 was the n=1 backfill: 2 rows)
    rollback_to(spark, root, 3)
    assert read_published(spark, root).count() == 2

    # a pinned time-travel read of a PRUNED version fails loudly
    with pytest.raises(FileNotFoundError, match="pruned or never"):
        read_published(spark, root, version=4)
    # ...and rollback to it refuses
    with pytest.raises(ValueError):
        rollback_to(spark, root, 4)
    with pytest.raises(ValueError):
        prune_versions(spark, root, keep_last=0)


def test_read_published_schema_is_per_version(spark, tmp_path):
    """read_published takes each version's schema from the path-keyed
    schema cache. Each version keeps its own columns across prune and
    rollback, and the next publish numbers past the highest version
    present, so a cached schema never describes another version."""
    from japanstockdatapipeline_spark.streaming.incremental import (
        prune_versions,
        publish_version,
        read_published,
        rollback_to,
    )

    root = str(tmp_path / "gold")
    as_of = F.to_date(F.lit("2026-08-13")).alias("as_of")
    a = F.col("id").alias("a")
    assert publish_version(spark.range(3).select(as_of, a), root) == 1
    assert publish_version(spark.range(3).select(as_of, a, F.lit(7).alias("b")), root) == 2
    cols = {1: ["as_of", "a"], 2: ["as_of", "a", "b"]}
    assert {v: read_published(spark, root, version=v).columns for v in cols} == cols

    rollback_to(spark, root, 1)
    # keeps the highest version (2) and the served one (1)
    assert prune_versions(spark, root, keep_last=1) == []
    assert {v: read_published(spark, root, version=v).columns for v in cols} == cols
    assert read_published(spark, root).columns == cols[1]
    assert [r["b"] for r in read_published(spark, root, version=2).collect()] == [7] * 3

    v3 = publish_version(
        spark.range(2).select(as_of, F.lit("x").alias("c")), root, flip=False
    )
    assert v3 == 3
    assert read_published(spark, root, version=v3).columns == ["as_of", "c"]
    assert read_published(spark, root).columns == cols[1]


def test_write_with_audit_empty_frame_observes_zero(spark, tmp_path):
    """r11 ADVICE (low): F.sum over an empty frame observes NULL; the
    audit must coalesce to 0 instead of failing the (empty-replay)
    batch with int(None)."""
    from japanstockdatapipeline_spark.streaming.incremental import write_with_audit

    df = spark.createDataFrame([], "k long, day string, v double")
    metrics = write_with_audit(
        df, str(tmp_path / "audit"), "day", count_nulls=("v",)
    )
    assert metrics == {"rows": 0, "nulls_v": 0}


def test_snapshot_diff_between_published_versions(spark, tmp_path):
    from japanstockdatapipeline_spark.streaming.incremental import (
        diff_versions,
        publish_version,
        snapshot_diff,
    )

    root = str(tmp_path / "gold")
    publish_version(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)], "k long, v double"
        ),
        root,
    )
    publish_version(
        spark.createDataFrame(
            [(2, 20.0), (3, None), (4, 44.0), (5, 50.0)], "k long, v double"
        ),
        root,
    )
    d = {r["k"]: r["diff_status"] for r in diff_versions(spark, root, 1, 2, ["k"]).collect()}
    assert d == {
        1: "removed",
        2: "unchanged",
        3: "unchanged",  # all-NULL values but present on both sides
        4: "changed",
        5: "added",
    }
    # changed rows carry both sides
    row = {
        r["k"]: (r["before_v"], r["after_v"])
        for r in diff_versions(spark, root, 1, 2, ["k"]).collect()
    }
    assert row[4] == (40.0, 44.0)

    # a present-but-all-NULL row is NOT confused with absence
    b = spark.createDataFrame([(1, None)], "k long, v double")
    a = spark.createDataFrame([(2, None)], "k long, v double")
    d2 = {r["k"]: r["diff_status"] for r in snapshot_diff(b, a, ["k"]).collect()}
    assert d2 == {1: "removed", 2: "added"}
