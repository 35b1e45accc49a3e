"""End-to-end daily pipeline + ANN recall tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from japanstockdatapipeline_spark.operators.topk import brute_force_topk, ivf_topk
from japanstockdatapipeline_spark.pipeline import run_daily_pipeline
from japanstockdatapipeline_spark.sources import load_table


def _jobs_in_group(spark, group: str, fn):
    """`fn()`'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_daily_pipeline_end_to_end(spark, sf_dir, tmp_path):
    import datetime as dt
    import os

    from japanstockdatapipeline_spark.pipeline import _as_of_marker, read_gold
    from japanstockdatapipeline_spark.streaming.incremental import (
        FreshnessError,
        latest_version,
        published_versions,
    )

    out_dir = str(tmp_path / "lake")
    counts = run_daily_pipeline(spark, sf_dir, out_dir, "2026-08-13")
    assert counts["silver_events"] == 1000
    assert counts["gold_snapshot"] == 15  # one row per user
    assert counts["gold_market_indicators"] > 0
    assert counts["gold_stock_screen"] == 150  # one screen row per customer
    # idempotent re-run: same run_date republishes, counts unchanged.
    # Job budget of a warm refresh: its writes, no read-backs, and one
    # shuffle of each gold table's fact table. At sf0.001 on local[4]
    # it runs 11 jobs. It ran 40 when every write was followed by a
    # count() of the written table and the backfill guard scanned the
    # served version for max(as_of), and 18 when the indicators joined
    # two plans that each shuffled events and the screen shuffled
    # orders three times.
    counts2, jobs = _jobs_in_group(
        spark,
        "warm_refresh",
        lambda: run_daily_pipeline(spark, sf_dir, out_dir, "2026-08-13"),
    )
    assert counts2 == counts
    assert list(counts2) == [
        "silver_events",
        "gold_snapshot",
        "gold_market_indicators",
        "gold_stock_screen",
    ]
    # the steps run on threads that inherit the caller's job group, so
    # the group sees every job, at least the four writes
    assert 4 <= jobs <= 11
    # manifest recorded 2 successful runs per job
    recs = [json.loads(line) for line in open(f"{out_dir}/ops/runs.jsonl")]
    assert sum(r.get("status") == "success" for r in recs) == 8
    # gold tables flow through publish_version: the re-run published a
    # SECOND retained snapshot per table, _LATEST points at it
    assert published_versions(spark, f"{out_dir}/gold/market_indicators") == [1, 2]
    # serving read: resolve _LATEST + freshness guard (ST9)
    wide = read_gold(
        spark, out_dir, "market_indicators", as_of=dt.date(2026, 8, 14)
    )
    assert {"adv_dec_ratio_25d", "pct_above_sma20"} <= set(wide.columns)
    # job budget of a serving read of a version already read once: one
    # job, the collect (the schema comes from the schema cache, the
    # date from the version's _AS_OF marker). It ran 4 when every read
    # inferred the version's schema and scanned it for max(as_of).
    rows, jobs = _jobs_in_group(
        spark,
        "gold_read",
        lambda: read_gold(
            spark, out_dir, "market_indicators", as_of=dt.date(2026, 8, 14)
        )
        .filter(F.col("as_of") == dt.date(2026, 8, 13))
        .collect(),
    )
    assert (len(rows), jobs) == (counts["gold_market_indicators"], 1)
    # time travel: the first publication is still readable by version
    v1 = read_gold(
        spark, out_dir, "snapshot", as_of=dt.date(2026, 8, 14), version=1
    )
    assert v1.count() == counts["gold_snapshot"]
    # the STALE path errors instead of serving (error-don't-serve-stale):
    # a reader 30 days later must refuse the 2026-08-13 snapshot, whose
    # date comes from its _AS_OF marker...
    snapshot_root = f"{out_dir}/gold/snapshot"
    marker = _as_of_marker(snapshot_root, latest_version(spark, snapshot_root))
    assert os.path.exists(marker)
    with pytest.raises(FreshnessError):
        read_gold(spark, out_dir, "snapshot", as_of=dt.date(2026, 9, 13))
    # ...or, without the marker, from the max(as_of) scan fallback
    os.remove(marker)
    with pytest.raises(FreshnessError):
        read_gold(spark, out_dir, "snapshot", as_of=dt.date(2026, 9, 13))
    # ...but an explicitly PINNED version is a time-travel read of a
    # retained old snapshot — exempt from the guard (review finding)
    assert (
        read_gold(
            spark, out_dir, "snapshot", as_of=dt.date(2026, 9, 13), version=1
        ).count()
        == counts["gold_snapshot"]
    )
    with pytest.raises(ValueError):
        read_gold(spark, out_dir, "not_a_table", as_of=dt.date(2026, 8, 14))

    # BACKFILL guard: re-running an OLDER run_date publishes a new
    # retained version but must NOT demote the newer serving snapshot
    run_daily_pipeline(spark, sf_dir, out_dir, "2026-08-12")
    served = read_gold(spark, out_dir, "snapshot", as_of=dt.date(2026, 8, 14))
    assert {r["as_of"] for r in served.select("as_of").distinct().collect()} == {
        dt.date(2026, 8, 13)
    }
    # the backfilled snapshot is still there, pinned by version
    assert published_versions(spark, f"{out_dir}/gold/snapshot") == [1, 2, 3]
    backfill = read_gold(
        spark, out_dir, "snapshot", as_of=dt.date(2026, 8, 14), version=3
    )
    assert {r["as_of"] for r in backfill.select("as_of").distinct().collect()} == {
        dt.date(2026, 8, 12)
    }


def _write_events_with_a_gap_day(sf_dir):
    """events.parquet over 40 days: users 1-3 trade 1-3 times a day
    (seeded prices), except on day 20, when only user 4 trades for the
    first time. No user has a previous close on day 20, so it is a day
    without advance/decline counts between days that have them."""
    import datetime as dt
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(7)
    start = dt.datetime(2026, 1, 5)
    rows = []
    for day in range(40):
        users = [4] if day == 20 else [1, 2, 3]
        for u in users:
            for k in range(rnd.randint(1, 3)):
                ts = start + dt.timedelta(days=day, hours=9 + 2 * k, minutes=u)
                rows.append((len(rows), ts, u, "click", round(rnd.uniform(90, 110), 2), ""))
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, f"{sf_dir}/events.parquet")


@pytest.mark.parametrize("data", ["smoke", "gap_day"])
def test_market_breadth_matches_duckdb_join_of_member_oracles(
    spark, sf_dir, tmp_path, data
):
    """market_breadth, the published indicators table, equals a full
    outer join on day of the daily_adv_dec_ratio and
    pct_above_sma_breadth oracles: NULL advance/decline columns on days
    without a previous close, and a 25-day ratio that skips those days
    (the gap_day data puts one inside the ratio windows)."""
    import math

    import duckdb

    from japanstockdatapipeline_spark.plans.registry import member_oracle
    from japanstockdatapipeline_spark.plans.technical import market_breadth

    if data == "gap_day":
        sf_dir = str(tmp_path)
        _write_events_with_a_gap_day(sf_dir)
    got = market_breadth(spark, sf_dir)
    srows = sorted(map(tuple, got.collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    res = con.execute(
        f"SELECT * FROM ({member_oracle('daily_adv_dec_ratio')}) "
        f"FULL OUTER JOIN ({member_oracle('pct_above_sma_breadth')}) USING (day)"
    )
    assert got.columns == [d[0] for d in res.description]
    drows = sorted(res.fetchall())
    con.close()
    assert len(srows) == len(drows)
    for s, d in zip(srows, drows):
        for a, b in zip(s, d):
            if isinstance(a, float) and b is not None:
                assert math.isclose(a, b, rel_tol=1e-9), (s, d)
            else:
                assert a == b, (s, d)
    if data == "gap_day":
        gap = [r for r in srows if r[1] is None]
        assert len(gap) == 2  # the first day and day 20
        ratio_days = [r[0] for r in srows if r[3] is not None]
        assert ratio_days and min(ratio_days) > gap[1][0]


def test_served_as_of_reads_marker_with_scan_fallback(spark, tmp_path):
    """The backfill guard's probe of the served snapshot's date: the
    served version's `_AS_OF` marker, read with no Spark job, or a
    max(as_of) scan of that version when it has no marker."""
    import datetime as dt
    import os

    from japanstockdatapipeline_spark.pipeline import _as_of_marker, _served_as_of
    from japanstockdatapipeline_spark.streaming.incremental import (
        _write_small_file,
        publish_version,
        rollback_to,
    )

    root = str(tmp_path / "gold")

    def publish(day: str, **kw) -> int:
        df = spark.range(2).select(F.to_date(F.lit(day)).alias("as_of"))
        v = publish_version(df, root, **kw)
        _write_small_file(spark, _as_of_marker(root, v), day)
        return v

    assert _served_as_of(spark, root) is None  # nothing published

    v1 = publish("2026-08-13")
    served, jobs = _jobs_in_group(
        spark, "served_as_of_marker", lambda: _served_as_of(spark, root)
    )
    assert (served, jobs) == (dt.date(2026, 8, 13), 0)

    # a backfill published without a flip leaves the served date alone
    publish("2026-08-10", flip=False)
    assert _served_as_of(spark, root) == dt.date(2026, 8, 13)

    publish("2026-08-14")
    assert _served_as_of(spark, root) == dt.date(2026, 8, 14)
    rollback_to(spark, root, v1)
    assert _served_as_of(spark, root) == dt.date(2026, 8, 13)

    # a version published before markers existed: scan its rows
    os.remove(_as_of_marker(root, v1))
    served, jobs = _jobs_in_group(
        spark, "served_as_of_scan", lambda: _served_as_of(spark, root)
    )
    assert served == dt.date(2026, 8, 13)
    assert jobs > 0


def test_empty_gold_publish_is_never_served(spark, tmp_path):
    """An empty publish writes no _AS_OF marker (there is no max(as_of)
    to state), so the read path still finds no date and refuses it."""
    import datetime as dt
    import os

    from japanstockdatapipeline_spark.pipeline import (
        _as_of_marker,
        _publish_gold,
        _served_as_of,
        read_gold,
    )
    from japanstockdatapipeline_spark.streaming.incremental import FreshnessError

    out_dir = str(tmp_path / "lake")
    root = f"{out_dir}/gold/snapshot"
    empty = spark.range(3).filter("id < 0").selectExpr("id AS key")
    assert _publish_gold(empty, root, "2026-08-13") == 0
    assert not os.path.exists(_as_of_marker(root, 1))
    assert _served_as_of(spark, root) is None
    with pytest.raises(FreshnessError, match="no data in as_of"):
        read_gold(spark, out_dir, "snapshot", as_of=dt.date(2026, 8, 13))


def _step_statuses(out_dir: str, run_date: str) -> dict[str, str]:
    """{job: final status} of the manifest's steps for `run_date`."""
    recs = [json.loads(line) for line in open(f"{out_dir}/ops/runs.jsonl")]
    jobs = {
        r["run_id"]: r["job"]
        for r in recs
        if r["status"] == "running" and r["target_date"] == run_date
    }
    return {
        jobs[r["run_id"]]: r["status"]
        for r in recs
        if r["run_id"] in jobs and r["status"] != "running"
    }


def test_failed_step_is_recorded_and_sibling_chains_publish(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failing step is recorded `failed` and its exception reaches the
    caller after the other chains have run and published; a failing
    silver step keeps the snapshot, which reads silver, from starting."""
    from japanstockdatapipeline_spark import pipeline
    from japanstockdatapipeline_spark.streaming.incremental import (
        published_versions,
    )

    out_dir = str(tmp_path / "lake")

    def versions(table):
        return published_versions(spark, f"{out_dir}/gold/{table}")

    breadth_error = RuntimeError("breadth source unavailable")

    def failing_breadth(*args, **kwargs):
        raise breadth_error

    monkeypatch.setattr(pipeline, "market_breadth", failing_breadth)
    with pytest.raises(RuntimeError) as raised:
        run_daily_pipeline(spark, sf_dir, out_dir, "2026-08-13")
    assert raised.value is breadth_error
    assert _step_statuses(out_dir, "2026-08-13") == {
        "silver_events": "success",
        "gold_snapshot": "success",
        "gold_market_indicators": "failed",
        "gold_stock_screen": "success",
    }
    assert (versions("snapshot"), versions("stock_screen")) == ([1], [1])
    assert versions("market_indicators") == []

    monkeypatch.undo()
    silver_error = RuntimeError("events source unavailable")

    def failing_silver(*args, **kwargs):
        raise silver_error

    monkeypatch.setattr(pipeline, "_silver_events", failing_silver)
    with pytest.raises(RuntimeError) as raised:
        run_daily_pipeline(spark, sf_dir, out_dir, "2026-08-14")
    assert raised.value is silver_error
    # no gold_snapshot step started: it has no manifest record at all
    assert _step_statuses(out_dir, "2026-08-14") == {
        "silver_events": "failed",
        "gold_market_indicators": "success",
        "gold_stock_screen": "success",
    }
    assert versions("snapshot") == [1]
    assert (versions("market_indicators"), versions("stock_screen")) == ([1], [1, 2])


def test_published_versions_hold_their_plans_rows(spark, sf_dir, tmp_path):
    """Forward, backfill, same-date rerun, forward: after each run, every
    retained version of each gold table holds, without its `as_of`
    column, exactly the rows of its plan collected directly, and `as_of`
    is the date of the run that published it. `_LATEST` serves the
    newest forward run."""
    import datetime as dt

    from japanstockdatapipeline_spark.operators.snapshot import technical_snapshot
    from japanstockdatapipeline_spark.pipeline import _served_as_of, read_gold
    from japanstockdatapipeline_spark.plans.composed import stock_metrics_pipeline
    from japanstockdatapipeline_spark.plans.technical import market_breadth
    from japanstockdatapipeline_spark.streaming.incremental import (
        published_versions,
    )

    def rows(df):
        # repr keeps NULLs and NaNs comparable and floats exact
        return sorted(repr(tuple(r)) for r in df.collect())

    out_dir = str(tmp_path / "lake")
    expected, run_of = None, {t: {} for t in ("snapshot", "market_indicators", "stock_screen")}
    newest = None
    for run_date, forward in [
        ("2026-08-13", True),
        ("2026-08-10", False),
        ("2026-08-13", True),
        ("2026-08-14", True),
    ]:
        run_daily_pipeline(spark, sf_dir, out_dir, run_date)
        if forward:
            newest = dt.date.fromisoformat(run_date)
        if expected is None:
            silver = spark.read.parquet(f"{out_dir}/silver/events")
            expected = {
                "snapshot": rows(technical_snapshot(silver, "user_id", "ts_us", "value")),
                "market_indicators": rows(market_breadth(spark, sf_dir)),
                "stock_screen": rows(stock_metrics_pipeline(spark, sf_dir)),
            }
        for table, want in expected.items():
            root = f"{out_dir}/gold/{table}"
            retained = published_versions(spark, root)
            run_of[table][retained[-1]] = dt.date.fromisoformat(run_date)
            for v in retained:
                df = read_gold(spark, out_dir, table, as_of=newest, version=v)
                assert rows(df.drop("as_of")) == want, (run_date, table, v)
                stamped = {r[0] for r in df.select("as_of").distinct().collect()}
                assert stamped == {run_of[table][v]}, (run_date, table, v)
            assert _served_as_of(spark, root) == newest, (run_date, table)
            served = read_gold(spark, out_dir, table, as_of=newest)
            assert {r[0] for r in served.select("as_of").distinct().collect()} == {newest}


def test_publish_layer_resolves_jvm_classes_by_full_name(spark, tmp_path):
    """Reading a published table's pointer and `_AS_OF` marker reaches
    the Hadoop `Path` and commons-io `IOUtils` classes in one py4j
    lookup each: no reflection lookup of a bare package such as `org` or
    `org.apache`, each of which is a failed class lookup in the JVM."""
    import datetime as dt

    from japanstockdatapipeline_spark.pipeline import _as_of_marker, _version_as_of
    from japanstockdatapipeline_spark.streaming.incremental import (
        _write_small_file,
        latest_version,
        publish_version,
    )

    root = str(tmp_path / "gold")
    df = spark.range(2).select(F.to_date(F.lit("2026-08-13")).alias("as_of"))
    v = publish_version(df, root)
    _write_small_file(spark, _as_of_marker(root, v), "2026-08-13")

    client = spark.sparkContext._gateway._gateway_client
    send, lookups = client.send_command, []

    def recorded_send(command, *args, **kwargs):
        # a py4j reflection lookup of a name: "r\nu\n<name>\n..."
        if command.startswith("r\nu\n"):
            lookups.append(command.split("\n")[2])
        return send(command, *args, **kwargs)

    client.send_command = recorded_send
    try:
        served = _version_as_of(spark, root, latest_version(spark, root))
    finally:
        client.send_command = send
    assert served == dt.date(2026, 8, 13)
    assert set(lookups) == {"org.apache.hadoop.fs.Path", "org.apache.commons.io.IOUtils"}


def test_nanos_events_load_from_concurrent_threads(spark, tmp_path):
    """Loads of a TIMESTAMP(NANOS) events file, which set and restore
    the session-wide nanosAsLong flag, may run at once (the pipeline's
    silver and indicators steps both load events): each returns ts_us
    truncated to microseconds, and the flag is unset afterwards. Each
    thread loads its own copy of the file, so the per-path schema lock
    does not serialize the loads before they reach the flag."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import InheritableThread

    flag = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(flag, None) is None
    ts_ns = [1_786_000_000_123_456_789, 1_786_000_100_999_999_999, 1_786_086_400_000_000_001]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "event_type": pa.array(["click"] * 3),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array([""] * 3),
        }
    )
    want = [(i + 1, ns // 1000) for i, ns in enumerate(ts_ns)]
    # a few rounds of three concurrent loads: one round does not always
    # interleave the loads' set/restore of the flag
    for round_ in range(4):
        dirs = [tmp_path / f"{round_}-{i}" for i in range(3)]
        for d in dirs:
            d.mkdir()
            pq.write_table(table, d / "events.parquet", version="2.6")
        results, errors = {}, []

        def load(d):
            try:
                df = load_table(spark, str(d), "events")
                results[d] = sorted(tuple(r) for r in df.select("event_id", "ts_us").collect())
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append(e)

        threads = [InheritableThread(load, args=(d,)) for d in dirs]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        assert results == {d: want for d in dirs}
        assert spark.conf.get(flag, None) is None


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_probe=3)
    e = {(r["q_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # labels are a weak quantizer for random vectors; just require the
    # plumbing to produce meaningfully overlapping results
    assert recall > 0.2
    # every approx hit must carry the same cosine as exact would
    ranks = approx.groupBy("q_id").count().collect()
    assert all(r["count"] == 5 for r in ranks)


def test_screener_api(spark, sf_dir):
    from japanstockdatapipeline_spark.api import register_views, screen

    register_views(spark, sf_dir)
    # the view is materialized at registration, so a screen runs one
    # job over the cached rows. It ran 3 when every call re-ran the
    # view's orders scan, row_number() window and join.
    rows, jobs = _jobs_in_group(
        spark,
        "screen",
        lambda: screen(spark, segment="BUILDING", min_acctbal=0, limit=10).collect(),
    )
    assert jobs == 1
    assert 0 < len(rows) <= 10
    assert all(r["c_mktsegment"] == "BUILDING" and r["c_acctbal"] >= 0 for r in rows)
    prices = [r["latest_price"] for r in rows if r["latest_price"] is not None]
    assert prices == sorted(prices, reverse=True)
    with pytest.raises(ValueError):
        screen(spark, order_by="1; DROP TABLE x")


def test_screener_reregistration_replaces_cached_view(spark, sf_dir, tmp_path):
    """Registering again over changed inputs replaces the materialized
    view: one cached relation, serving only the new inputs' rows."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from japanstockdatapipeline_spark.api import register_views, screen
    from japanstockdatapipeline_spark.sources import TABLE_NAMES

    new_dir = tmp_path / "sf"
    new_dir.mkdir()
    for name in TABLE_NAMES:
        shutil.copy(f"{sf_dir}/{name}.parquet", new_dir / f"{name}.parquet")
    customer = pq.read_table(f"{sf_dir}/customer.parquet")
    one = customer.filter(pc.equal(customer["c_mktsegment"], "BUILDING"))
    pq.write_table(one, new_dir / "customer.parquet")

    spark.catalog.dropTempView("customer_screen")  # uncaches it
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    register_views(spark, sf_dir)
    register_views(spark, str(new_dir))
    assert spark.catalog.isCached("customer_screen")
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted + 1
    rows = screen(spark, limit=1000).collect()
    assert sorted(r["c_custkey"] for r in rows) == sorted(
        one.column("c_custkey").to_pylist()
    )


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    from japanstockdatapipeline_spark.operators.topk import lsh_bucketed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r["q_id"], r["neighbor_id"]) for r in brute_force_topk(emb, queries, 5).collect()}
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(emb, queries, 5).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5


def test_lsh_near_dup_recall_vs_brute_force(spark, sf_dir):
    from japanstockdatapipeline_spark.functions.vectors import (
        as_double_array,
        cosine_similarity,
    )
    from japanstockdatapipeline_spark.operators.topk import lsh_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    a = emb.select(F.col("vec_id").alias("id_a"), as_double_array(F.col("embedding")).alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), as_double_array(F.col("embedding")).alias("vb"))
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, a.id_a < b.id_b)
        .select("id_a", "id_b", cosine_similarity(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= 0.3)
        .collect()
    }
    blocked = lsh_near_dup_pairs(emb, threshold=0.3, dim=64).collect()
    got = {(r["id_a"], r["id_b"]) for r in blocked}
    # blocked output is a subset of the true pair set (exact cosine on
    # candidates — no false positives) with bounded recall loss
    assert got <= brute
    if brute:
        assert len(got) / len(brute) >= 0.5


def test_driver_contract_window_and_oracles(spark):
    """The grading driver checks at most ~50 registered queries and
    runs oracle_sql side-by-side: the registry must stay inside the
    window, every registered query must carry an oracle (zero
    rows-only), and the flagship entry must run."""
    import __spark_entry__ as E

    qs, osql = E.queries(), E.oracle_sql()
    assert len(qs) <= 50, "registry exceeded the driver's 50-query window"
    assert set(qs) == set(osql), "every registered query needs a value oracle"
    assert E.entry(spark).count() > 0
